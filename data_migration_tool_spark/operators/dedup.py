"""Deduplication operators for large-scale corpus pipelines.

The reference dedups only at table/file granularity (audit anti-joins);
a training-data engine needs document-level dedup. All operators work on
a DataFrame with (id, text) columns and are built from shuffles that
scale linearly with corpus size:

- ``exact_dedup``          — normalize → md5 fingerprint → groupBy.
  One shuffle on the 16-byte fingerprint; at 100 TB this is the
  cheapest possible exact dedup (no text comparison after hashing).
- ``minhash_signatures`` / ``lsh_candidate_pairs`` / ``minhash_lsh_dedup``
  — shingle → k salted min-hashes → band keys → bucket self-join →
  exact Jaccard verify on candidates only. The self-join is on band
  buckets, so cost is Σ bucket² — the LSH contract — instead of n².
- ``simhash`` — per-bit majority vote over token hashes; near-dup
  bucketing by Hamming distance on a 16-bit signature.
- ``ngram_jaccard_pairs`` — exact pairwise Jaccard via an inverted
  shingle index (explode → self-join on shingle → per-pair counts).
  Quadratic in the worst case; intended for verify stages and small
  candidate sets, with LSH as the scale path.

All hashes are md5-derived (``functions.hashing.md5_int32``) so a SQL
oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_migration_tool_spark.functions.hashing import md5_int32
from data_migration_tool_spark.functions.text import fingerprint, tokens, word_shingles
from data_migration_tool_spark.partitioning import cached, scoped_loop, spread


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, keep_id, n_dups): one row per distinct normalized
    text; ``keep_id`` = min id (the canonical survivor)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_set(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index input.
    Input is spread first: shingling+hashing is the map-heavy stage and
    must not run at a small file's single-partition parallelism.

    Dedup happens per-row (``array_distinct`` before the explode), not
    via ``.distinct()``: ids differ across documents, so per-document
    dedup IS global (id, shingle) dedup — same rows, minus one full
    shuffle of the entire shingle stream. At 100 TB that shuffle is the
    largest intermediate in the whole dedup pipeline; this keeps the
    stage map-only."""
    return spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("shingle"),
    )


# Affine min-hash family h_i(x) = (a_i*h(x) + b_i) mod P over one base
# md5 hash — one md5 per shingle instead of k. P prime > 2^32; a_i < 2^31
# keeps a*h + b inside int64 for h < 2^32. Deterministic constants so SQL
# oracles can embed the same table.
MINHASH_P = 4294967311

# The ONE (num_hashes, band_rows) banding the production dedup path
# runs — ``minhash_signatures``/``minhash_lsh_dedup``/
# ``minhash_lsh_incremental`` default to these, and the recall gates
# (plans/textq.py) certify exactly this banding by referencing the
# same constants (r14, ADVICE r13: the gates previously hardcoded
# (16, 4) literals, so a change to the dedup defaults would have left
# them silently certifying the OLD banding). Oracle SQL literals are
# derived from these too.
NUM_HASHES = 16
BAND_ROWS = 4


def minhash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """(seed, a, b) rows for the affine family, identical across engines."""
    out = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % (2**31 - 1) or 1
        b = (2654435761 * i + 1013904223) % MINHASH_P
        out.append((i, a, b))
    return out


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(id, band, band_key): k affine min-hashes grouped into bands of
    ``band_rows``, each band keyed by the md5 of its ordered min-hash
    list. Two docs share a band_key iff the band's min-hashes all agree.

    Execution shape: all k affine transforms are projections over the
    ONE base md5 per shingle, aggregated as k ``min`` columns in a
    single groupBy(id) — one shuffle of map-side-combined partials (k+1
    columns × n_docs groups), no k× row explosion, no second shuffle.
    Band keys are then a pure projection (md5 of the comma-joined
    min-hashes in seed order — same text DuckDB's
    ``string_agg(... ORDER BY seed)`` produces)."""
    params = minhash_params(num_hashes)
    base = shingles.select(F.col(id_col), md5_int32(F.col("shingle")).alias("h"))
    mins = base.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"mh{s}"
            )
            for s, a, b in params
        ]
    )
    n_bands = num_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{i * band_rows + j}").cast("string")
                            for j in range(band_rows)
                        ],
                    )
                ).alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    return mins.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket. The join key
    is (band, band_key) so cost follows bucket sizes, not n².

    ``max_bucket_size`` drops buckets larger than the bound before the
    self-join — the skew valve for degenerate corpora (a bucket of B
    identical docs costs B² in one task; a million-doc boilerplate
    bucket would pin a single executor). Members of a dropped bucket
    are near-certain exact dups — route them through ``exact_dedup``
    (one hash groupBy) instead of pairwise verification. Default None:
    exact LSH semantics, matching the SQL oracles."""
    if max_bucket_size is not None:
        w = F.count(F.lit(1)).over(Window.partitionBy("band", "band_key"))
        bands = bands.withColumn("__bsz", w).filter(
            F.col("__bsz") <= max_bucket_size
        ).drop("__bsz")
    a = bands.select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard for candidate pairs: |∩| from a shingle-equality
    join restricted to the pairs, sizes from per-doc counts.

    The shingle relation is pruned to candidate docs FIRST, via a
    broadcast left-semi on the (tiny) candidate id set — a map-side
    filter, so the two shingle-side joins shuffle only surviving
    docs' shingles instead of the whole corpus index. At 100 TB the
    candidate set is orders of magnitude smaller than the corpus (the
    LSH contract), which turns the verify stage from corpus-scale
    shuffles into candidate-scale ones.

    The pruned frame is cached while the pairs with Jaccard ≥
    ``threshold`` materialize: it feeds FOUR branches (both pair-join
    sides + the two size lookups), and when the caller passes an
    unmaterialized corpus-scale shingle plan (e.g.
    ``minhash_lsh_incremental``'s union of standing + new shingles),
    each branch would otherwise re-run the full corpus explode+hash —
    measured as 5 separate parquet scans of the corpus in
    ``doc_lsh_incremental``'s before-plan. The cache is candidate-scale
    by the LSH contract, so it is always small relative to the corpus
    (guide §1.2)."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pruned = shingles.join(F.broadcast(cand_ids), id_col, "left_semi")
    with cached(pruned) as shingles:
        sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
        sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
        common = (
            pairs.join(sa, "id_a")
            .join(sb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
        nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
        return (
            common.join(na, "id_a")
            .join(nb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .localCheckpoint(eager=True)
        )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH pipeline → (id_a, id_b, jaccard) pairs over the
    threshold, materialized. Candidates come from LSH buckets; Jaccard
    is exact. The candidates are cached: the verify stage consumes them
    twice (candidate-id broadcast prune + the pair joins), and without
    the cache the band self-join would run twice."""
    with cached(shingle_set(df, id_col, text_col, shingle_n)) as sh, cached(
        lsh_candidate_pairs(minhash_signatures(sh, id_col, num_hashes, band_rows), id_col)
    ) as cand:
        return jaccard_verify(cand, sh, id_col, threshold)


def dup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (id, cluster_id) where
    cluster_id = min id in the connected component. The survivor-
    selection step after LSH — "keep one doc per cluster" is
    ``filter(id == cluster_id)``.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(diameter) rounds (near-dup components are tiny — a handful of
    rounds). Per round exactly ONE shuffle join + ONE groupBy: neighbor
    labels arrive via the edge join, the node's own label rides along
    as a tagged union row, and min-aggregation over both recovers the
    new label AND the old one (min over tagged rows), so convergence is
    a filter-count on the checkpointed result — no extra join.
    ``localCheckpoint`` truncates lineage so the plan stays O(1) per
    round. At billion-edge scale swap the loop body for
    large-star/small-star (same fixpoint contract, O(log n) rounds);
    the interface and the oracle stay the same.
    """
    # both edge directions from ONE scan of the pair plan (r13 opt,
    # guide §1.2): the former fwd ∪ rev union evaluated the (often
    # expensive — a full LSH verify) pair pipeline once per branch
    # inside the materializing distinct; the in-row explode emits the
    # same two directed rows per pair map-side. Same edge set after
    # the distinct — oracle hash-proved on every cluster query.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("u"), F.col("id_b").alias("v")
                    ),
                    F.struct(
                        F.col("id_b").alias("u"), F.col("id_a").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    # round 0 fused into initialization: label = min(id, neighbors) —
    # same groupBy shuffle the plain node-distinct would cost, but
    # diameter-1 components (pairs, stars: the overwhelming majority of
    # near-dup clusters) arrive converged, halving loop rounds.
    # Checkpoints are LAZY (r13, the BPE-train trick, guide §5): each
    # round's convergence count materializes that round's checkpoint
    # inside the SAME job, so a round costs 1 driver-scheduled job
    # instead of 2 (lineage still truncates at every materialized
    # checkpoint; values are unchanged — the fixpoint doesn't see the
    # job boundary).
    # loop_shuffle_partitions: callers whose pair input is CANDIDATE-
    # scale by contract (every LSH/near-dup consumer) pin the loop's
    # shuffle grain and freeze its plans (``scoped_loop``): each
    # round's join+groupBy plan is fully known, so AQE only adds
    # per-exchange stage-jobs and re-planning to every convergence
    # count (interleaved at sf0.1: part_entity_resolution 1.67-2.17 →
    # 1.39-1.55 s, doc_dup_clusters 1.94 → 1.47-1.49 s). Labels are
    # min-folds — partition-count-independent, oracle-proved. The edge
    # list is cached for the loop: every round joins it.
    with cached(edges) as edges, scoped_loop(
        pairs.sparkSession, loop_shuffle_partitions
    ):
        labels = (
            edges.groupBy(F.col("u").alias("id"))
            .agg(F.min("v").alias("_mv"))
            .select("id", F.least(F.col("id"), F.col("_mv")).alias("label"))
            .localCheckpoint(eager=False)
        )
        for _ in range(max_iters):
            own = labels.select("id", "label", F.lit(True).alias("own"))
            nbr = edges.join(labels, edges.v == labels.id).select(
                F.col("u").alias("id"), "label", F.lit(False).alias("own")
            )
            new_labels = (
                own.unionByName(nbr)
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias("prev"),
                )
                .select(
                    "id",
                    "label",
                    (F.col("label") < F.col("prev")).alias("moved"),
                )
                .localCheckpoint(eager=False)
            )
            changed = new_labels.filter("moved").count()
            labels = new_labels.drop("moved", "prev")
            if changed == 0:
                break
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def dup_clusters_two_star(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 30,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round scale path with the same contract as
    ``dup_clusters``: (id, cluster_id = min id in the component).

    Each round is two groupBy+join passes over a *canonical* edge list
    (a > b). large-star hooks every neighbor larger than u onto u's
    component-min candidate (halving tree heights); small-star then
    flattens each node's smaller neighborhood onto its minimum. Both
    emit canonically oriented edges, so the edge set monotonically
    collapses toward one star per component centered at the component
    min — O(log n) rounds regardless of diameter, where plain label
    propagation needs O(diameter). Per-round work is two keyed
    shuffles whose width never exceeds the live edge count, which
    shrinks as stars collapse; ``localCheckpoint`` truncates lineage.
    Convergence is an edge-set fingerprint (count + hash sum), one
    cheap agg per side."""
    # lazy checkpoints throughout (r13, guide §5): the fingerprint agg
    # that follows each checkpoint materializes it within the same job
    # — 1 job per round instead of 2; the checkpointed blocks then
    # serve the round's two bidirectional references.
    # loop_shuffle_partitions: same candidate-scale pin + static plans
    # as ``dup_clusters`` (see that loop's comment for the
    # measurements) — the star-collapse arithmetic is min-folds,
    # partition-count-independent.
    with scoped_loop(pairs.sparkSession, loop_shuffle_partitions):
        edges, fp, converged = _two_star_loop(pairs, max_iters)
    if not converged:
        # a non-fixpoint edge list is NOT a star forest — emitting
        # labels from it would silently return multiple conflicting
        # cluster_ids per node
        raise RuntimeError(
            f"dup_clusters_two_star did not converge in {max_iters} "
            f"rounds; raise max_iters (components this deep imply "
            f"~2^{max_iters} nodes — check the pair input)"
        )
    # fixpoint = one star per component centered at the component min
    members = edges.select(F.col("a").alias(id_col), F.col("b").alias("cluster_id"))
    centers = (
        edges.select(F.col("b").alias(id_col))
        .distinct()
        .withColumn("cluster_id", F.col(id_col))
    )
    return members.unionByName(centers)


def _two_star_loop(pairs: DataFrame, max_iters: int):
    """The alternating large-star/small-star rounds of
    ``dup_clusters_two_star`` — split out so the caller can scope the
    loop's execution confs; returns (final edges, fingerprint,
    converged)."""
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("a"),
            F.least("id_a", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    fp = edges.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h")
    ).first()
    converged = False
    for _ in range(max_iters):
        # large-star: Γ over both directions; m(u) = min(u ∪ Γ(u));
        # every v ∈ Γ(u) with v > u re-hooks onto m(u)
        bidir = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = (
            bidir.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        lrg = (
            bidir.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(
                m.filter(F.col("u") != F.col("m")).select(
                    F.col("u").alias("a"), F.col("m").alias("b")
                )
            )
            .distinct()
        )
        # small-star on the canonical orientation: every smaller
        # neighbor of u (and u itself) hooks onto min(N⁻(u))
        sm = lrg.groupBy("a").agg(F.min("b").alias("m"))
        edges = (
            lrg.join(sm, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(sm.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_fp = edges.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h")
        ).first()
        if (fp["n"], fp["h"]) == (new_fp["n"], new_fp["h"]):
            converged = True
            break
        fp = new_fp
    return edges, fp, converged


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash): per-bit majority vote over (multiset) token hashes.
    Near-dups differ in few bits; at scale, group by rotated bit-bands
    to find candidates (same trick as LSH bands)."""
    tok = spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = md5_int32(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_doc = tok.select(F.col(id_col), h.alias("h")).groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select(F.col(id_col), sig.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidate_pairs: DataFrame | None = None,
    max_join_pairs: int | str | None = "auto",
    auto_candidates: bool = False,
    linear_budget: int = 32,
    max_blowup: int = 8,
    audit=None,
    shingles: DataFrame | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact Jaccard via the inverted index (no LSH). Use for
    verification / small sets; ``minhash_lsh_dedup`` is the scale path.

    The shingle-equality self-join emits Σ_s C(df_s, 2) rows — hot
    shingles make that quadratic in corpus size. Guards:

    - ``candidate_pairs``: restrict the compare to a pre-computed pair
      set (``lsh_candidate_pairs`` output) — the sub-quadratic path;
      Jaccard values stay exact, only pair GENERATION is pruned.
    - ``max_join_pairs="auto"`` (default): the guard threshold is
      DERIVED FROM THE DATA, not a static cap.  Tier 1: the implied
      join size Σ_s C(df_s, 2) comes from one cheap shingle-histogram
      agg; within ``linear_budget``·n_docs the join is linear-shaped
      and runs directly.  Tier 2: past that, minhash bands are computed
      and the band-bucket histogram gives the pair volume the LSH scale
      path itself would verify (Σ_buckets C(n_b, 2)); the exact join is
      allowed while implied ≤ ``max_blowup``·that volume — i.e. exact
      may cost at most a constant factor of the sub-quadratic
      alternative on THIS corpus.  Past the derived bound the operator
      degrades to verifying the LSH candidates (``auto_candidates=
      True``, band signatures reused) or refuses loudly quoting both
      statistics.  The degraded mode can miss pairs LSH banding misses
      (recall contracted by ``minhash_recall_gate``), which is why it
      is opt-in rather than silent.
    - an ``int`` keeps the legacy static-cap semantics; ``None``
      disables the guard (explicit opt-in to quadratic cost).

    ``shingles``: a precomputed (and caller-cached) ``shingle_set``
    of ``df`` — callers running several shingle consumers over the same
    corpus (the recall gates) pay the corpus explode once.

    ``prefix_filter`` (guide §3 — prune pairs before the
    quadratic stage): generate candidates from each document's PREFIX
    under the global (df, shingle) order instead of the full inverted
    index, then verify exactly. LOSSLESS for Jaccard ≥ threshold — the
    standard prefix-filtering theorem: J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉,
    and if the globally-smallest common shingle sat past A's first
    |A| − ⌈t·|A|⌉ + 1 shingles, the ≥ ⌈t·|A|⌉ common shingles would
    have to fit in the ⌈t·|A|⌉ − 1 slots after it (pigeonhole) — so
    every qualifying pair shares a shingle inside BOTH prefixes, and
    the symmetric size bound den·min ≥ num·max prunes further (⌈·⌉
    computed in exact integers from the threshold's fraction — a float
    overshoot would SHORTEN the prefix and lose pairs). Verification
    computes the identical double-division Jaccard from the full
    per-doc shingle arrays (array_intersect of per-row sets ≡ the
    shingle-equality join's count), so the output is byte-identical to
    the direct path; only pair GENERATION changes.

    Every path that reads a cache of the operator's own returns its
    (candidate-scale) pairs materialized, so those caches release
    before it returns or refuses; the direct path over a caller's
    ``shingles`` stays lazy inside the caller's scope.
    """
    # an own shingle frame is cached: it feeds four plan branches (both
    # join sides + two size lookups), and uncached the explode+distinct
    # recomputes per branch. A caller's ``shingles`` stays the caller's.
    with (
        nullcontext(shingles)
        if shingles is not None
        else cached(shingle_set(df, id_col, text_col, shingle_n))
    ) as sh:
        if candidate_pairs is not None:
            return jaccard_verify(candidate_pairs, sh, id_col, threshold)
        if max_join_pairs is not None:
            implied = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
                .collect()[0]["p"]
            ) or 0
            sigs = None
            if max_join_pairs == "auto":
                n_docs = sh.select(id_col).distinct().count()
                cap = linear_budget * max(n_docs, 1)
                why = f"{linear_budget}·n_docs = {cap:,}"
                if implied > cap:
                    # band-bucket histogram: the candidate volume the LSH
                    # path would verify on this exact corpus
                    sigs = minhash_signatures(sh, id_col=id_col)
                    lsh_volume = (
                        sigs.groupBy("band", "band_key")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
                        .collect()[0]["p"]
                    ) or 0
                    cap = max(max_blowup * int(lsh_volume), cap)
                    why = (
                        f"max({max_blowup}·lsh_candidates = "
                        f"{max_blowup * int(lsh_volume):,}, {why})"
                    )
            else:
                cap = max_join_pairs
                why = f"max_join_pairs={cap:,}"
            if implied > cap:
                if auto_candidates:
                    if audit is not None:
                        from data_migration_tool_spark.audit.log import guard_event

                        guard_event(
                            audit,
                            guard="ngram_jaccard_pairs",
                            action="degrade",
                            subject=f"{id_col}/{text_col} shingle self-join",
                            implied_cost=int(implied),
                            cap=int(cap),
                            detail=f"implied pairs over guard ({why}); "
                            f"verifying LSH candidates instead of all pairs",
                        )
                    if sigs is None:
                        sigs = minhash_signatures(sh, id_col=id_col)
                    cands = lsh_candidate_pairs(sigs, id_col=id_col)
                    return jaccard_verify(cands, sh, id_col, threshold)
                if audit is not None:
                    from data_migration_tool_spark.audit.log import guard_event

                    guard_event(
                        audit,
                        guard="ngram_jaccard_pairs",
                        action="refuse",
                        subject=f"{id_col}/{text_col} shingle self-join",
                        implied_cost=int(implied),
                        cap=int(cap),
                        detail=f"refused: implied pairs over guard ({why})",
                    )
                raise RuntimeError(
                    f"ngram_jaccard_pairs: shingle self-join would emit "
                    f"~{int(implied):,} pairs (> {why}). Pass "
                    f"candidate_pairs from lsh_candidate_pairs() "
                    f"(sub-quadratic), pass auto_candidates=True to degrade "
                    f"to the LSH path, raise the guard, or use "
                    f"minhash_lsh_dedup()."
                )
        if prefix_filter:
            from fractions import Fraction

            frac = Fraction(str(threshold))
            num, den = frac.numerator, frac.denominator
            dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            # doc-grain ranked sets under the global (df, shingle) order —
            # one aggregate, same shape as the containment family's ranked
            # frame; cached because it feeds the prefix explode (both
            # self-join sides) AND the verify join (full arrays + sizes).
            with cached(
                sh.join(dfreq, "shingle")
                .groupBy(id_col)
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("df", "shingle"))
                    ).alias("ranked"),
                    F.count(F.lit(1)).alias("n_sh"),
                )
            ) as ranked:
                # prefix length n_sh − ⌈t·n_sh⌉ + 1, ⌈t·n⌉ = (num·n + den − 1) div den
                plen = F.expr(
                    f"n_sh - ((({num}) * n_sh + {den - 1}) div {den}) + 1"
                )
                prefix = ranked.select(
                    F.col(id_col),
                    F.col("n_sh"),
                    F.explode(
                        F.slice("ranked", F.lit(1), F.greatest(F.lit(0), plen))
                    ).alias("ps"),
                ).select(id_col, "n_sh", F.col("ps.shingle").alias("shingle"))
                pa = prefix.select(
                    F.col(id_col).alias("id_a"), F.col("n_sh").alias("pn_a"), "shingle"
                )
                pb = prefix.select(
                    F.col(id_col).alias("id_b"), F.col("n_sh").alias("pn_b"), "shingle"
                )
                cands = (
                    pa.join(pb, "shingle")
                    .filter(
                        (F.col("id_a") < F.col("id_b"))
                        # size bound: J ≥ t ⇒ den·min(|A|,|B|) ≥ num·max(|A|,|B|)
                        & (
                            F.lit(den) * F.least("pn_a", "pn_b")
                            >= F.lit(num) * F.greatest("pn_a", "pn_b")
                        )
                    )
                    .select("id_a", "id_b")
                    .distinct()
                )
                full_a = ranked.select(
                    F.col(id_col).alias("id_a"),
                    F.transform("ranked", lambda x: x["shingle"]).alias("set_a"),
                    F.col("n_sh").alias("n_a"),
                )
                full_b = ranked.select(
                    F.col(id_col).alias("id_b"),
                    F.transform("ranked", lambda x: x["shingle"]).alias("set_b"),
                    F.col("n_sh").alias("n_b"),
                )
                n_common = F.size(F.array_intersect("set_a", "set_b"))
                return (
                    cands.join(full_a, "id_a")
                    .join(full_b, "id_b")
                    .select(
                        "id_a",
                        "id_b",
                        (
                            n_common.cast("double")
                            / (F.col("n_a") + F.col("n_b") - n_common).cast("double")
                        ).alias("jaccard"),
                    )
                    .filter(F.col("jaccard") >= threshold)
                    .localCheckpoint(eager=True)
                )
        sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
        sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
        pairs = (
            sa.join(sb, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
        nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
        out = (
            pairs.join(na, "id_a")
            .join(nb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return out if shingles is not None else out.localCheckpoint(eager=True)


@contextmanager
def _containment_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num: int,
    den: int,
):
    """Scope yielding the shared inverted-index frames of the
    containment family: (sh, docsets, dfreq, prefix).

    ``sh`` is CACHED for the block — it feeds the docsets aggregate, the
    df histogram, the ranked aggregate, and the verify join's probe side
    (4-5 plan branches; uncached the explode recomputes per branch).
    The ranked sets under ``prefix`` are ALSO cached (guide §1.2 don't
    compute twice): the guard's pricing aggregate and the candidate join both
    consume the prefix, and the prefix pipeline's expensive part — the
    corpus-scale ``sh ⋈ dfreq`` shuffle join plus the doc-grain
    groupBy — sat UPSTREAM of both, so it ran twice per query. Caching
    the doc-grain ranked frame (same bytes as sh, reshaped) makes the
    second consumer a cache read. ``prefix`` itself (the post-explode
    rows) stays uncached: caching the exploded form as well cost more
    than it saved (measured 4.1 s vs 2.9 s —
    materializing the exploded rows breaks explode → join pipelining);
    the cheap explode re-runs per consumer over the cached ranked
    frame. Callers leave the block before any recursion, so degrade
    levels don't stack corpus-scale caches."""
    with cached(shingle_set(df, id_col, text_col, shingle_n)) as sh:
        docsets = sh.groupBy(id_col).agg(
            F.sort_array(F.collect_list("shingle")).alias("sset"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ceil_tn = f"({num} * n_sh + {den - 1}) div {den}"
        # Prefix selection as ONE doc-grain aggregate (guide §2.4): the
        # former row_number window needed a full sort of the (shingle,
        # df) frame inside the id exchange PLUS a second join against
        # docsets to fetch n_sh. collect_list + in-row array_sort ranks
        # the same (df, shingle) pairs per document (struct ordering =
        # field order, so ties break identically), n_sh falls out of
        # the same aggregate, and slice() keeps exactly the rows rk ≤
        # n_sh − ceil(t·n) + 2 the window kept (greatest(0, ·) mirrors
        # the no-rows case). One exchange + bounded per-doc sorts
        # instead of exchange + global sort + join. df rides the
        # projection so the guard still prices the join with ONE
        # aggregate over it: Σ df over (doc, shingle) prefix rows IS
        # Σ_s prefix_count(s)·df(s).
        with cached(
            sh.join(dfreq, "shingle")
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("df", "shingle"))
                ).alias("ranked"),
                F.count(F.lit(1)).alias("n_sh"),
            )
        ) as ranked_sets:
            prefix = ranked_sets.select(
                F.col(id_col).alias("id_a"),
                F.explode(
                    F.slice(
                        "ranked",
                        1,
                        F.greatest(
                            F.lit(0),
                            F.col("n_sh") - F.expr(ceil_tn) + F.lit(2),
                        ),
                    )
                ).alias("r"),
            ).select(
                "id_a",
                F.col("r.shingle").alias("shingle"),
                F.col("r.df").alias("df"),
            )
            yield sh, docsets, dfreq, prefix


def _containment_verify(
    sh: DataFrame,
    docsets: DataFrame,
    prefix: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Prefix-filtered candidate join + exact array-intersect verify."""
    cand = (
        prefix.join(sh.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = docsets.select(
        F.col(id_col).alias("id_a"),
        F.col("sset").alias("sa"),
        F.col("n_sh").alias("na"),
    )
    sb = docsets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.col("na").cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_candidates: int | str | None = "auto",
    linear_budget: int = 1024,
    auto_sample: bool = False,
    audit=None,
    _rate_limit: int = 256,
) -> DataFrame:
    """Containment coefficient |A∩B| / |A| ≥ ``threshold`` over n-gram
    shingle sets — the asymmetric complement of Jaccard (a short doc
    embedded verbatim in a long one scores ~1.0 here, low on Jaccard).

    Candidate generation is PREFIX-FILTERED (PPJoin-family bound): for
    containment ≥ t on |A| = n, a container missing ALL of any chosen
    n − ceil(t·n) + 1 shingles of A cannot qualify (pigeonhole), so
    joining only each doc's rarest such shingles (shortest posting
    lists) against the full inverted index finds every qualifying pair;
    an array-intersect verify computes the exact coefficient. Prefix
    size is exact-integer (``ceil(t·n)`` as ``(num·n + den − 1) div
    den`` over ``threshold``'s decimal rational — float ``1−t``
    under-sizes it), +1 extra slack unit covering the round(·,6)
    admission window for any doc under ~4M distinct shingles.

    **Cost guard (r10).** Prefix filtering is ASYMPTOTIC only while the
    shingle domain stays open (Zipfian text: new docs mint new rare
    shingles, posting lists of the rare tail stay O(1)). On a corpus
    whose shingle domain SATURATES — bounded vocabulary, templated or
    synthetic text — every posting list grows ~linearly with the corpus
    and the candidate volume Σ_s prefix_count(s)·df(s) turns quadratic;
    the prefix filter then buys only a constant factor (measured on the
    r10 second-decade upsample: candidate volume 0.2M → 27M → 3.0B for
    10×/100× rows — the sf10 join aborted past 45 min where the
    first-decade exponent predicted ~3 min). With ``max_candidates=
    "auto"`` the operator therefore PRICES the join before running it:
    one shingle-grain aggregate computes the implied candidate volume,
    and past ``linear_budget``·n_docs it refuses loudly, quoting both
    statistics and the saturation ratio, and names the priced
    alternatives. With ``auto_sample=True`` it instead DEGRADES to a
    deterministic md5 doc slice whose rate is derived from the measured
    ratio (largest k/256 with implied·rate² ≤ cap — rate tracks
    1/√growth, so no fixed constant for the n² term to outrun) and
    recurses on the slice, which re-prices itself. The recursion
    carries the current ABSOLUTE cut (``_rate_limit``): docs in play
    already satisfy md5 < prev_cut, so a new cut is only a real slice
    if it is strictly below the previous one — each degrade level
    lowers the cut by ≥ 1/256, so the recursion provably terminates
    (it bottoms out in the loud refusal if even rate 1/256 cannot
    meet the budget). An ``int`` keeps
    static-cap semantics; ``None`` disables the guard. Refusals and
    degrades write ``dmt_guard_events`` rows when ``audit`` is passed.

    Both directions are reported (contained_id, container_id).
    Reference basis: the reference has no similarity path; this extends
    the dedup family (SURVEY §2 extension surface)."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    k = 0  # the degrade slice's md5 cut, k/256; 0 = no degrade
    with _containment_frames(df, id_col, text_col, shingle_n, num, den) as (
        sh,
        docsets,
        dfreq,
        prefix,
    ):
        if max_candidates is not None:
            # the guard aggregate and the candidate join both evaluate
            # the prefix over the cached ranked frame (the corpus-scale
            # join + groupBy upstream computes once — see
            # _containment_frames)
            g = prefix.agg(
                F.sum("df").alias("v"), F.count_distinct("id_a").alias("n")
            ).first()
            implied = g["v"] or 0
            if max_candidates == "auto":
                cap = linear_budget * max(g["n"], 1)
                why = f"{linear_budget}·n_docs = {cap:,}"
            else:
                cap = max_candidates
                why = f"max_candidates={cap:,}"
            if implied > cap:
                if auto_sample:
                    # Self-sizing degrade: candidate volume is ~quadratic
                    # in the doc count under saturation, so a
                    # deterministic md5 slice of rate r shrinks it ~r² —
                    # pick the largest two-hex-digit rate k/256 with
                    # implied·(k/256)² ≤ cap and recurse on the slice
                    # (the recursive call re-prices with its own
                    # aggregate, so an off estimate degrades again rather
                    # than running over budget). This is the SCALE.md
                    # arithmetic as code: the rate tracks 1/√growth
                    # instead of being a fixed constant that the n² term
                    # outruns a decade later. The candidate rate is
                    # relative to the docs IN PLAY (md5 < _rate_limit/256
                    # already holds for all of them), so convert to an
                    # absolute cut and force strict progress — a cut ≥
                    # the current limit filters nothing, and identical
                    # implied/cap would then recompute the identical k
                    # forever.
                    k = int((cap / implied) ** 0.5 * _rate_limit)
                    k = min(k, _rate_limit - 1)
                if k < 1:
                    # no degrade asked for, or a rate < 1/256 — a sample
                    # that thin answers nothing: refuse loudly
                    stats = dfreq.agg(
                        F.sum("df").alias("rows"), F.count(F.lit(1)).alias("dist")
                    ).first()
                    sat = stats["rows"] / max(stats["dist"], 1)
                    if audit is not None:
                        from data_migration_tool_spark.audit.log import guard_event

                        guard_event(
                            audit,
                            guard="containment_pairs",
                            action="refuse",
                            subject=f"{id_col}/{text_col} prefix-filtered index join",
                            implied_cost=int(implied),
                            cap=int(cap),
                            detail=f"refused: implied candidates over guard ({why}); "
                            f"mean posting length {sat:.1f} — saturated shingle "
                            f"domains void the prefix filter's asymptotic bound",
                        )
                    raise RuntimeError(
                        f"containment_pairs: prefix-filtered join would generate "
                        f"~{int(implied):,} candidates (> {why}; mean posting "
                        f"length {sat:.1f} — a saturated shingle domain makes the "
                        f"prefix filter a constant factor, not an asymptotic one). "
                        f"Pass auto_sample=True to degrade to a self-sized "
                        f"deterministic doc sample (cost shrinks by rate²), raise "
                        f"linear_budget, or pass max_candidates=None to opt into "
                        f"the quadratic join."
                    )
                if audit is not None:
                    from data_migration_tool_spark.audit.log import guard_event

                    guard_event(
                        audit,
                        guard="containment_pairs",
                        action="degrade",
                        subject=f"{id_col}/{text_col} prefix-filtered index join",
                        implied_cost=int(implied),
                        cap=int(cap),
                        detail=f"degraded to deterministic md5 doc "
                        f"sample rate {k}/256 (implied·rate² ≤ cap)",
                    )
        if not k:
            return _containment_verify(
                sh, docsets, prefix, id_col, threshold
            ).localCheckpoint(eager=True)
    # the slice recurses after this level's caches are released, so
    # degrade levels never stack corpus-scale caches
    sliced = df.filter(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 2) < format(k, "02x")
    )
    return containment_pairs(
        sliced,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        max_candidates=max_candidates,
        linear_budget=linear_budget,
        auto_sample=True,
        audit=audit,
        _rate_limit=k,
    )


def containment_pairs_adaptive(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
    linear_budget: int = 4096,
    audit=None,
) -> DataFrame:
    """Rate-ADAPTIVE containment pairs (r11): the gated query that
    DEGRADES instead of refusing when the corpus saturates — the
    registry-facing complement of ``containment_pairs(auto_sample=
    True)``, restructured so the derived rate is a pure corpus
    function that a SQL oracle replicates exactly.

    Why a second entry point: the recursive ``auto_sample`` path
    re-prices each slice against the SLICE's shrunken budget
    (``linear_budget``·n_sliced_docs), so under hard saturation the
    budget shrinks as fast as the slice and the recursion bottoms out
    in the refusal (SCALE.md r10 measured exactly that: the fixed-25%
    sampled twin refused at sf10, 179.7M candidates > the sliced cap
    of 128.4M). This operator instead holds the budget at the FULL
    corpus's ``linear_budget``·n_docs — "answer the containment
    question within the budget the whole corpus was granted" — and
    derives the slice rate in ONE pricing pass:

        weighted = implied · avg_nsh   (avg_nsh = sh_rows div n_docs)
        j = smallest j ∈ [0, 8] with weighted ≤ cap·4^j
        rate = 2^-j  (k = 256 >> j of 256 md5 cut points)

    The pricing unit is VERIFY SHINGLE-VISITS, not candidate rows —
    the r11 sf10 lesson: a candidate-row budget admitted a 187M-pair
    slice whose verify join (each pair carries both docs' full
    sorted shingle arrays through a sort-merge exchange) spilled
    ~50 GB of shuffle and died on disk, while the candidate COUNT was
    comfortably inside the row budget. Each verified pair costs
    ~|A|+|B| ≈ 2·avg_nsh array entries, so charging implied·avg_nsh
    against a cap of ``linear_budget`` visits per doc prices the join
    the executors actually run. avg_nsh is one integer division of
    two corpus counts, so the SQL oracle replicates it exactly.

    Candidate volume is ~quadratic in docs under saturation, so a rate
    2^-j slice shrinks it ~4^-j — the ladder pick guarantees the
    ESTIMATED sliced volume fits the full-corpus cap, and a second
    pricing pass on the slice verifies the estimate (refusing loudly
    if the quadratic model was wrong, rather than running over
    budget). The power-of-two ladder (vs the continuous √(cap/implied)
    rate) keeps the arithmetic integer-exact in both engines — the
    ``emb_lsh_near_dups`` width-ladder precedent. Rate still tracks
    1/√growth: each decade of corpus growth under saturation raises
    implied ~100×, pushing j up by ~3.3 and the rate down ~10×.
    Measured ladder: sf0.01/sf0.1 price under budget (j=0, full
    join); sf1 lands j=2 (rate 64/256); sf10 lands j=4 (rate 16/256,
    ~12M verify pairs — bounded where the row-budget run died).

    Output carries ``sample_k`` (the derived k, 256 = unsliced) on
    every row, so the correctness gate cross-checks the PRICING
    arithmetic itself — Σ df over the ranked prefix, avg_nsh, the
    cap, and the ladder pick — not just the pair values. j > 8
    (rate < 1/256) refuses: a sample that thin answers nothing.

    Reference basis: the reference has no similarity path; this
    extends the dedup family (SURVEY §2 extension surface)."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    with _containment_frames(df, id_col, text_col, shingle_n, num, den) as (
        sh,
        docsets,
        _,
        prefix,
    ):
        g = prefix.agg(
            F.sum("df").alias("v"), F.count_distinct("id_a").alias("n")
        ).first()
        n_docs = g["n"] or 0
        avg_nsh = sh.count() // max(n_docs, 1)
        implied = (g["v"] or 0) * avg_nsh
        cap = linear_budget * max(n_docs, 1)
        j = 0
        while j <= 8 and implied > cap * (4**j):
            j += 1
        if j > 8:
            if audit is not None:
                from data_migration_tool_spark.audit.log import guard_event

                guard_event(
                    audit,
                    guard="containment_pairs_adaptive",
                    action="refuse",
                    subject=f"{id_col}/{text_col} prefix-filtered index join",
                    implied_cost=int(implied),
                    cap=int(cap),
                    detail="refused: even rate 1/256 leaves the estimated "
                    "candidate volume over the full-corpus budget",
                )
            raise RuntimeError(
                f"containment_pairs_adaptive: weighted verify volume "
                f"(candidates × avg shingles/doc) {int(implied):,} exceeds "
                f"cap·4^8 = {cap * 4**8:,} — even "
                f"a 1/256 slice is estimated over budget; raise "
                f"linear_budget or use the LSH dedup family instead."
            )
        if j == 0:
            return (
                _containment_verify(sh, docsets, prefix, id_col, threshold)
                .withColumn("sample_k", F.lit(256).cast("int"))
                .localCheckpoint(eager=True)
            )
    k = 256 >> j
    if audit is not None:
        from data_migration_tool_spark.audit.log import guard_event

        guard_event(
            audit,
            guard="containment_pairs_adaptive",
            action="degrade",
            subject=f"{id_col}/{text_col} prefix-filtered index join",
            implied_cost=int(implied),
            cap=int(cap),
            detail=f"degraded to deterministic md5 doc slice rate "
            f"{k}/256 (ladder: implied ≤ cap·4^{j})",
        )
    sliced = df.filter(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
        < format(k, "02x")
    )
    with _containment_frames(sliced, id_col, text_col, shingle_n, num, den) as (
        sh,
        docsets,
        _,
        prefix,
    ):
        g = prefix.agg(
            F.sum("df").alias("v"), F.count_distinct("id_a").alias("n")
        ).first()
        implied = (g["v"] or 0) * (sh.count() // max(g["n"] or 0, 1))
        if implied > cap:
            # the quadratic shrink model was wrong for THIS corpus —
            # refuse loudly against the ORIGINAL budget rather than run
            # over it
            if audit is not None:
                from data_migration_tool_spark.audit.log import guard_event

                guard_event(
                    audit,
                    guard="containment_pairs_adaptive",
                    action="refuse",
                    subject=f"{id_col}/{text_col} sliced index join "
                    f"(rate {k}/256)",
                    implied_cost=int(implied),
                    cap=int(cap),
                    detail="refused: sliced candidate volume still over the "
                    "full-corpus budget — sub-quadratic shrink assumption "
                    "does not hold on this corpus",
                )
            raise RuntimeError(
                f"containment_pairs_adaptive: the rate-{k}/256 slice still "
                f"implies {int(implied):,} candidates (> full-corpus cap "
                f"{cap:,}); the r²-shrink model does not hold here — raise "
                f"linear_budget or use the LSH dedup family instead."
            )
        return (
            _containment_verify(sh, docsets, prefix, id_col, threshold)
            .withColumn("sample_k", F.lit(k).cast("int"))
            .localCheckpoint(eager=True)
        )


def cross_corpus_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Decontamination: training documents that share any n-gram
    shingle with a held-out benchmark corpus, with the count of
    distinct shared shingles — the standard train/eval contamination
    check before a training run.

    Shape for 100 TB of train against a benchmark of MBs–GBs: the
    benchmark's distinct shingle set is small by construction and is
    broadcast, so the train side is a single scan → shingle-explode →
    broadcast semi-probe, followed by one groupBy(id) shuffle that
    carries only the HIT rows (contamination is rare, so the shuffle is
    tiny). The train corpus is never self-joined and never shuffled in
    full."""
    bench_shingles = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("shingle"))
        .distinct()
    )
    train_shingles = shingle_set(train, id_col, text_col, n)
    return (
        train_shingles.join(F.broadcast(bench_shingles), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def bloom_build(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Bloom filter over the benchmark's distinct n-gram shingles — the
    SKETCH twin of ``cross_corpus_overlap``'s exact broadcast set, for
    when even the distinct benchmark shingles are too large to ship.

    Layout: ``m_bits`` bits packed 32 per BIGINT word → the whole
    filter is ``m_bits/32`` rows of (word_idx, bits).  All ``k`` hash
    positions are md5-derived (``conv(substr(md5('bl{r}|'||s),1,8))``
    mod m), so both engines compute bit-identical filters — the sketch
    itself is oracle-checkable, not just its error envelope.  Words
    merge by ``bit_or``, which IS the map-side combine of the groupBy:
    per-partition partial filters OR together associatively, the
    textbook mergeable-summary contract.  At 100 TB the filter is KBs
    regardless of corpus size."""
    sh = benchmark.select(
        F.explode(word_shingles(text_col, n)).alias("shingle")
    ).distinct()
    pos = sh.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("shingle"), r, m_bits) for r in range(k)])
        ).alias("p")
    )
    return (
        pos.select(
            F.expr("p div 32").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bloom_pos(col: F.Column, r: int, m_bits: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"bl{r}|"), col)), 1, 8), 16, 10)
        .cast("long")
        % m_bits
    )


def bloom_decontaminate(
    train: DataFrame,
    bloom: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Probe every train shingle against a ``bloom_build`` filter and
    emit per-document contamination stats.  Bloom guarantee: NO false
    negatives — every document ``cross_corpus_overlap`` flags is
    flagged here (pinned by test_dataops.py); false positives inflate
    ``n_maybe_contaminated`` at the filter's fill-ratio rate and are
    resolved by running the exact check on the (rare) flagged docs.

    Scale shape: the filter broadcasts (KBs); the train side is one
    scan → shingle explode → k-way position explode → broadcast join →
    two aggregate-grain groupBys (shingle verdicts, then doc rollup).
    The train corpus is never self-joined and never shuffled in full —
    only per-shingle verdict rows move."""
    sh = shingle_set(train, id_col, text_col, n)
    probes = sh.select(
        id_col,
        "shingle",
        F.posexplode(
            F.array(*[_bloom_pos(F.col("shingle"), r, m_bits) for r in range(k)])
        ).alias("r", "p"),
    ).select(
        id_col,
        "shingle",
        F.expr("p div 32").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
            "mask"
        ),
    )
    hits = probes.join(F.broadcast(bloom), "word_idx", "left_outer").select(
        id_col,
        "shingle",
        (
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
            == F.col("mask")
        ).cast("int").alias("hit"),
    )
    verdicts = hits.groupBy(id_col, "shingle").agg(
        (F.sum("hit") == F.count(F.lit(1))).cast("int").alias("maybe")
    )
    return verdicts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("maybe").cast("long").alias("n_maybe_contaminated"),
        (F.sum("maybe") > 0).alias("flagged"),
    )


def hamming_near_dup_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Band-blocked Hamming near-dup pairs over ANY integer signature
    column — the blocking engine shared by the text SimHash lane
    (32-bit, ``textq.doc_simhash_near_dups``) and the image
    perceptual-hash lane (64-bit dHash,
    ``operators/multimodal.dhash_images``). With ``bands``
    bit-bands and ``max_hamming < bands``, blocking is EXACT by
    pigeonhole: at most ``max_hamming`` differing bits touch at most
    ``max_hamming`` bands, so every qualifying pair shares one intact
    band and is generated — no recall loss. Output (id_a, id_b,
    hamming), id_a < id_b.

    Scale shape: candidates come from a self-join on (band_idx,
    band_value) — bucket sizes bounded by 2^(bits/bands) spreading, the
    verify step is a constant-time bit_count on the joined signatures.
    Band extraction is arithmetic-shift + mask, so bit-(bits−1)
    signatures (negative longs) band identically across engines."""
    assert bits % bands == 0 and max_hamming < bands
    width = bits // bands
    # NOTE: both sides of the self-join re-derive this frame, so Spark
    # recomputes the signature pipeline twice. Deliberately NOT
    # persisted here: the operator is called from property tests and
    # bench loops hundreds of times per session, and un-unpersistable
    # cache entries accumulate until execution memory thrashes
    # (measured: a full-suite stall in evictBlocksToFreeSpace). At lake
    # scale, the CALLER should materialize the signature frame once
    # (persist/checkpoint — it is bands rows × ~32 bytes per item,
    # never the blobs) and pass that in; the expensive decode then runs
    # once regardless of this join's shape.
    banded = sig.select(
        F.col(id_col),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(*[F.lit(b) for b in range(bands)])
        ).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr(f"(_sig >> (band_idx * {width})) & {(1 << width) - 1}"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def hamming_index(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """The storable band index of a Hamming-signature corpus:
    (id, _sig, band_idx, band_val) — ``bands`` rows of ~32 bytes per
    item, the state a 100 TB image/text pipeline persists between
    ingest batches. Unlike the MinHash index (``lsh_index``), the full
    signature rides IN the index, so incremental verification needs
    zero re-reads of the standing corpus — not even one scan."""
    assert bits % bands == 0
    width = bits // bands
    return sig.select(
        F.col(id_col),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(*[F.lit(b) for b in range(bands)])
        ).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr(f"(_sig >> (band_idx * {width})) & {(1 << width) - 1}"),
    )


def hamming_near_dups_incremental(
    new_sigs: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental Hamming near-dup pairs TOUCHING the new batch,
    computed against a stored :func:`hamming_index` instead of the
    whole corpus — the signature-space twin of
    :func:`minhash_lsh_incremental`, and the production shape of
    continuous image dedup (dHash signatures via
    ``multimodal.dhash_images``).

    Exactness contract (tested): band values are pure per-item
    functions, so (new × index) ∪ (new × new) candidates are EXACTLY
    the full-corpus candidate set restricted to pairs with a new
    member; with ``max_hamming < bands`` the pigeonhole bound makes
    blocking lossless, so the output equals the full run restricted to
    batch-touching pairs.

    Scale shape: signature hashing — and any upstream blob DECODE —
    runs on the batch only; the standing corpus participates solely as
    its stored 8-byte-signature band index (images never re-read);
    the verify step is a constant-time bit_count on the two indexed
    signatures, zero re-decode, zero corpus scan. Union the batch's
    bands into the index afterwards and the state is ready for the
    next batch. Caller contract: batch ids are disjoint from index
    ids."""
    assert bits % bands == 0 and max_hamming < bands
    nb = hamming_index(new_sigs, id_col, sig_col, bits, bands)
    a = nb.select(
        F.col(id_col).alias("nid"),
        F.col("_sig").alias("nsig"),
        "band_idx",
        "band_val",
    )
    ib = index_bands.select(
        F.col(id_col).alias("iid"),
        F.col("_sig").alias("isig"),
        "band_idx",
        "band_val",
    )
    bb = nb.select(
        F.col(id_col).alias("iid"),
        F.col("_sig").alias("isig"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(ib.unionByName(bb), ["band_idx", "band_val"])
        .filter(F.col("nid") != F.col("iid"))
        .select(
            F.least("nid", "iid").alias("id_a"),
            F.greatest("nid", "iid").alias("id_b"),
            F.when(F.col("nid") < F.col("iid"), F.col("nsig"))
            .otherwise(F.col("isig"))
            .alias("sig_a"),
            F.when(F.col("nid") < F.col("iid"), F.col("isig"))
            .otherwise(F.col("nsig"))
            .alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def lsh_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """The storable LSH index of a corpus: (id, band, band_key).

    This is the state a 100 TB pipeline persists between ingest
    batches — ~n_bands small rows per document, no shingles, no text.
    A daily batch is deduped against the standing corpus by
    ``minhash_lsh_incremental`` without re-hashing a single standing
    document."""
    return minhash_signatures(
        shingle_set(df, id_col, text_col, shingle_n),
        id_col,
        num_hashes,
        band_rows,
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    index_bands: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs TOUCHING the new batch,
    computed against a stored index instead of the whole corpus.

    Exactness contract (tested): because band keys are a pure function
    of each document alone, (new x index) ∪ (new x new) candidates are
    EXACTLY the full-corpus candidate set restricted to pairs with a
    new member — incremental loses nothing vs a full re-run.

    Scale shape: signature hashing runs on the batch only (the whole
    point — batch-size, not corpus-size map work); the index join is
    keyed on (band, band_key) with cost Σ bucket_b·bucket_new, which
    inherits the LSH contract; the Jaccard verify re-shingles ONLY
    candidate-touched documents (broadcast semi-join prune inside
    ``jaccard_verify``) — the corpus is scanned once map-side, never
    shuffled. Union the batch's bands into the stored index afterwards
    and the state is ready for the next batch.
    """
    with cached(shingle_set(new_docs, id_col, text_col, shingle_n)) as new_sh, cached(
        minhash_signatures(new_sh, id_col, num_hashes, band_rows)
    ) as new_bands:
        nb = new_bands.select(F.col(id_col).alias("nid"), "band", "band_key")
        ib = index_bands.select(F.col(id_col).alias("iid"), "band", "band_key")
        new_vs_old = nb.join(ib, ["band", "band_key"]).select(
            F.least("nid", "iid").alias("id_a"),
            F.greatest("nid", "iid").alias("id_b"),
        )
        new_vs_new = lsh_candidate_pairs(new_bands, id_col)
        with cached(
            new_vs_old.unionByName(new_vs_new)
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        ) as cand:
            # Verify shingles come from the union corpus, pruned to
            # candidate-touched ids BEFORE the shingle explode (guide
            # §2.3 shuffle fewer bytes): jaccard_verify's own semi-join
            # prune sits ABOVE the explode — Catalyst cannot push a join
            # below a Generate — so without this the whole standing
            # corpus was re-tokenized and re-hashed for the verify stage
            # (5 corpus-scale scans in the before-plan). Pruning at
            # document grain makes the verify-side shingle work
            # candidate-scale, which is the incremental contract's whole
            # point. Semantically identical: jaccard_verify only ever
            # reads candidate-touched ids.
            touched = (
                cand.select(F.col("id_a").alias(id_col))
                .unionByName(cand.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            all_sh = shingle_set(
                corpus_docs.join(F.broadcast(touched), id_col, "left_semi"),
                id_col,
                text_col,
                shingle_n,
            ).unionByName(new_sh)
            return jaccard_verify(cand, all_sh, id_col, threshold)
