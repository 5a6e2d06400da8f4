"""Text-analysis operators over a documents table (id, text, ...).

Thin DataFrame wrappers around the expression builders in
``functions.text`` — all JVM-side, whole-stage-codegen friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_migration_tool_spark.functions import text as TX
from data_migration_tool_spark.partitioning import cached


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    def stats_of(toks):
        return F.struct(
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
            (
                F.aggregate(
                    F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
                ).cast("double")
                / F.greatest(F.size(toks), F.lit(1)).cast("double")
            ).alias("avg_token_len"),
        )

    # one bound evaluation of the token array per row; CollapseProject
    # keeps the struct alias intact (non-cheap expr referenced 3×)
    return df.select(
        F.col(id_col), TX.bind(TX.tokens(text_col), stats_of).alias("_s")
    ).select(id_col, "_s.n_tokens", "_s.n_distinct_tokens", "_s.avg_token_len")


def quality_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col),
        TX.token_count(text_col).alias("n_tokens"),
        TX.stopword_ratio(text_col).alias("stopword_ratio"),
        TX.quality_score(text_col).alias("quality"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("predicted_lang", TX.predicted_lang(text_col))


def repetition_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of n-gram shingles that are repeats of an earlier shingle
    in the same document. High ratio → boilerplate / template spam.

    Pure per-row Catalyst expression — the shingle array is bound once
    per row, so the whole operator is a scan-side projection: no
    shuffle, no UDF, combines with column pruning at any scale. The
    ratio is an integer ratio cast to double, so it is bit-identical
    across engines."""

    def stats_of(sh):
        t = F.size(sh).cast("bigint")
        d = F.size(F.array_distinct(sh)).cast("bigint")
        return F.struct(
            t.alias("n_shingles"),
            d.alias("n_distinct_shingles"),
            F.when(t > 0, (t - d).cast("double") / t.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )

    return df.select(
        F.col(id_col), TX.bind(TX.word_shingles(text_col, n), stats_of).alias("_s")
    ).select(id_col, "_s.n_shingles", "_s.n_distinct_shingles", "_s.rep_ratio")


def stratified_hash_sample(
    df: DataFrame,
    thresholds: dict[str, str],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default: str = "0d",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row when its
    md5(id) 2-hex-digit prefix sorts below the stratum's threshold
    ('0d' ≈ 5%, '40' ≈ 25%, 'zz' = keep all — every hex prefix sorts
    below 'z'). The corpus-rebalancing primitive (e.g. upsample rare
    languages, downsample the dominant one) as a pure scan predicate:
    membership is a function of the row alone, so it is rerun-stable,
    engine-portable, and costs zero shuffles at any scale."""
    pref = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    th = None
    for stratum, bound in thresholds.items():
        cond = F.col(strata_col) == stratum
        th = F.when(cond, bound) if th is None else th.when(cond, bound)
    th = F.lit(default) if th is None else th.otherwise(F.lit(default))
    return df.filter(pref < th)


def token_frequencies(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Corpus token frequency (explode → groupBy → top-n). At 100 TB the
    groupBy partial-aggregates per partition before the shuffle, so the
    shuffle carries only distinct tokens per partition."""
    return (
        df.select(F.explode(TX.tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_n)
    )


def chunk_with_overlap(
    df: DataFrame,
    size: int = 200,
    stride: int = 150,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-width character chunks with
    ``size - stride`` characters of overlap — the standard layout for
    context-window-bounded training examples and embedding inputs.

    Chunk starts are ``0, stride, 2*stride, …`` while the start is
    inside the text, so every character lands in ≥1 chunk and chunk
    boundaries never silently drop tail text. Pure scan-side
    ``sequence`` + ``explode`` — the chunk table is produced by a map
    (no shuffle), so 100 TB of documents chunk at scan throughput and
    the output inherits the input's partitioning.

    Chunks surface as md5 fingerprints + lengths rather than repeated
    substrings: downstream dedup/packing wants identity and size, and
    carrying the text would multiply the scan's output bytes ~1.33×
    per overlap factor for no consumer.
    """
    n = F.length(F.col(text_col))
    last = (n - F.lit(1)).cast("bigint")
    starts = F.sequence(
        F.lit(0).cast("bigint"),
        (last - last % stride),  # == ((n-1) div stride) * stride, n >= 1
        F.lit(stride).cast("bigint"),
    )
    chunk = F.substring(F.col(text_col), F.col("chunk_start") + 1, size)
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            id_col,
            (F.col("chunk_start") / stride).cast("bigint").alias("chunk_idx"),
            "chunk_start",
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, selected by deterministic
    md5(id) order — the per-domain document cap used to stop a handful
    of giant crawl domains from dominating a training mix.

    Skew-aware two-phase plan instead of a global window: a group-grain
    count (map-side combinable, output = #groups rows) splits groups
    into under-cap and over-cap. Under-cap groups pass through with a
    broadcast anti-join — NO sort and NO per-group shuffle for the
    common case. Only over-cap groups (broadcast semi-join) pay the
    row_number shuffle+sort, and only their rows travel. At 100 TB with
    a power-law domain distribution this sorts the few hot domains
    instead of the whole corpus; membership is rerun-stable because the
    order key is a pure function of the row.
    """
    slim = df.select(group_col, id_col)
    over = (
        slim.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select(group_col)
    )
    keep_small = slim.join(F.broadcast(over), group_col, "left_anti")
    w = (
        W.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    )
    keep_big = (
        slim.join(F.broadcast(over), group_col, "left_semi")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )
    return keep_small.unionByName(keep_big)


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    block_expr: F.Column | None = None,
    max_dist: int = 4,
    max_comparisons: int | str | None = "auto",
    linear_budget: int = 1024,
    audit=None,
) -> DataFrame:
    """Blocked fuzzy string matching at DISTINCT-name grain: pairs of
    distinct names sharing ``block_expr`` (default: the second
    whitespace token, ANSI-safe) with Levenshtein distance ≤
    ``max_dist``. Names whose block is NULL or empty — e.g.
    single-token names under the default — are excluded from the
    match AND the pricing on both engines (r13, ADVICE r12): there is
    no usable blocking key for them, and the previous behavior
    (Spark's NULL blocks dropped by the self-join but still priced;
    DuckDB's '' blocks paired) was a latent cross-engine divergence.

    Cost model and guard (r12). The scan is linear in rows, but the
    match itself is Σ C(block, 2) over the name DICTIONARY — and the
    dictionary's growth is a property of the data, not the row count
    (the upsampled part table grows names 10× inside a FIXED set of
    blocking tokens, so pair volume grows ~100× per decade while rows
    grow 10×; a real catalog saturates the same way when names are
    combinations over a bounded vocabulary). With ``max_comparisons=
    "auto"`` the operator prices the pair volume BEFORE the self-join
    — one block-histogram aggregate, the same shape as the containment
    and Jaccard guards — and past ``linear_budget`` comparisons per
    distinct name it refuses loudly with a ``dmt_guard_events`` row,
    naming the saturated blocking key and the alternatives (finer
    blocking, a deterministic name sample, or an explicit higher
    budget). An ``int`` gives a static cap; ``None`` opts into the
    unpriced join. Levenshtein is an integer metric, so results are
    exact in any engine.

    Reference basis: translation/name-mapping drift repair
    (dvt/consts — the reference validates names only by equality; this
    extends the cleaning family, SURVEY §2 extension surface)."""
    if block_expr is None:
        # ANSI-safe default: element_at behind a size guard (a bare
        # split(...)[1] yields NULL for single-token names non-ANSI
        # and ERRORS under ANSI mode — ADVICE r12)
        toks = F.split(F.col("name"), " ")
        block_expr = F.when(
            F.size(toks) >= 2, F.element_at(toks, 2)
        ).otherwise(F.lit(""))
    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        # NULL and empty blocks are normalized identically in BOTH
        # engines and EXCLUDED from the match (ADVICE r12): a name
        # without a usable blocking key participates in neither the
        # join nor the pricing histogram — previously Spark's NULL
        # blocks silently dropped rows from the non-null-safe
        # self-join while the guard still priced their C(b,2) pairs,
        # and the DuckDB mirror's split_part('') paired them.
        .withColumn("blk", F.coalesce(block_expr, F.lit("")))
        .filter(F.col("blk") != "")
    )
    # cached: the guard histogram and BOTH self-join sides read this
    # frame — without the cache the full input rescans and re-distincts
    # once per consumer
    with cached(names):
        if max_comparisons is not None:
            g = (
                names.groupBy("blk")
                .agg(F.count(F.lit(1)).alias("b"))
                .agg(
                    F.expr("sum(b * (b - 1) div 2)").alias("pairs"),
                    F.sum("b").alias("n"),
                    F.max("b").alias("hot"),
                )
                .first()
            )
            implied = int(g["pairs"] or 0)
            n_names = int(g["n"] or 0)
            if max_comparisons == "auto":
                cap = linear_budget * max(n_names, 1)
                why = f"{linear_budget}·n_names = {cap:,}"
            else:
                cap = int(max_comparisons)
                why = f"max_comparisons={cap:,}"
            if implied > cap:
                if audit is not None:
                    from data_migration_tool_spark.audit.log import guard_event

                    guard_event(
                        audit,
                        guard="fuzzy_name_pairs",
                        action="refuse",
                        subject=f"{name_col} blocked Levenshtein self-join",
                        implied_cost=implied,
                        cap=cap,
                        detail=f"refused: Σ C(block,2) = {implied:,} over "
                        f"{n_names:,} distinct names (hottest block "
                        f"{int(g['hot'] or 0):,}) — the blocking key is "
                        f"saturated",
                    )
                raise RuntimeError(
                    f"fuzzy_name_pairs: the blocked self-join implies "
                    f"{implied:,} Levenshtein comparisons (> {why}; hottest "
                    f"block {int(g['hot'] or 0):,} of {n_names:,} names). "
                    f"Block finer, sample the dictionary deterministically, "
                    f"raise linear_budget, or pass max_comparisons=None to "
                    f"opt into the unpriced join."
                )
        a = names.select(F.col("name").alias("name_a"), "blk")
        b = names.select(F.col("name").alias("name_b"), "blk")
        return (
            a.join(b, "blk")
            .filter(F.col("name_a") < F.col("name_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= max_dist)
            .select("name_a", "name_b", "dist")
            .localCheckpoint(eager=True)
        )


def resolve_entities(
    df: DataFrame,
    name_col: str,
    **fuzzy_kwargs,
) -> DataFrame:
    """End-to-end entity resolution (r13): blocked fuzzy matching →
    connected components → survivorship. One row per DISTINCT name:
    (name, canonical_name, cluster_size), where canonical_name is the
    lexicographic min of the name's fuzzy-match component and
    cluster_size the entity's member count. Names that match nothing —
    including names ``fuzzy_name_pairs`` excludes for lacking a
    blocking key — resolve to themselves with cluster_size 1.

    Every step is dictionary-grain (the distinct-name table, orders
    of magnitude smaller than the rows bearing the names): the priced
    fuzzy self-join, the min-label-propagation components (fuzzy
    components have tiny diameter — a handful of one-shuffle rounds),
    and two name-grain joins for survivorship and sizes. That grain
    is what makes ER survive 100 TB of rows over a bounded name
    vocabulary; the guard in ``fuzzy_name_pairs`` prices the one term
    that can saturate (Σ C(block,2) over the dictionary).

    Reference basis: the reference validates name equality only
    (dvt/consts); this completes the record-linkage family its
    name-mapping drift repair stops short of."""
    from data_migration_tool_spark.operators.dedup import dup_clusters

    # reduce the row-grain input to the name dictionary ONCE and feed
    # that to every downstream consumer: the matcher re-distincts a
    # dictionary instead of re-scanning the full input, and the
    # survivorship join reads the same cache (the previous shape paid
    # the full-input scan+distinct twice, plus twice more through the
    # sizes self-join's two references)
    with cached(df.select(F.col(name_col).alias("name")).distinct()) as names:
        pairs = fuzzy_name_pairs(names, "name", **fuzzy_kwargs)
        # the CC input is dictionary-grain (fuzzy pairs over distinct
        # names) — pin the loop and freeze its plans (see dup_clusters)
        cc = dup_clusters(
            pairs.select(
                F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
            ),
            id_col="name",
            loop_shuffle_partitions=8,
        )
        resolved = names.join(cc, "name", "left_outer").select(
            "name",
            F.coalesce(F.col("cluster_id"), F.col("name")).alias(
                "canonical_name"
            ),
        )
        sizes = resolved.groupBy("canonical_name").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        # materialized: resolved feeds both sides of the sizes join, so
        # a lazy return would re-evaluate the name-grain plan per
        # reference
        return (
            resolved.join(sizes, "canonical_name")
            .select("name", "canonical_name", "cluster_size")
            .localCheckpoint(eager=True)
        )
