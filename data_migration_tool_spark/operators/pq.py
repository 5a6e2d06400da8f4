"""Product quantization for embedding compression.

PQ is the workhorse of billion-vector ANN (IVF-PQ): split each d-dim
vector into ``m`` subvectors, quantize every subvector to its nearest
codebook centroid, and store only the ``m`` small code ids —
64 float32 dims compress to 8 bytes here (32× smaller), which is what
makes a 100 TB embedding corpus fit in cluster memory for search.

The codebook is md5-derived (reproducible bit-for-bit in any engine),
values on a 1/128 grid so every centroid coordinate is an exact double
— the SQL oracle embeds the identical literals and the whole encode
pass is value-exact cross-engine. Production would train centroids per
subspace with k-means (``similarity.kmeans_fit_exact`` — the
trained-IVF pattern); the encode/scoring mechanics below are unchanged
by where the codebook comes from.

Everything is scan-side Catalyst expression work — and deliberately
higher-order-function work, not unrolled terms: the codebook rides
along as ONE constant-folded array literal and the m×k×sub_dim
distance loop runs inside nested ``transform``/``aggregate`` lambdas.
(The unrolled alternative — m·k struct entries of sub_dim explicit
terms each — builds a multi-thousand-node expression tree whose
analysis/codegen costs tens of seconds per plan; the HOF form keeps
the plan O(1) in codebook size.) No shuffle, no UDF, no collect —
encode throughput is scan throughput.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pq_codebook(
    m: int = 8, sub_dim: int = 8, k: int = 16
) -> list[list[list[float]]]:
    """codebook[s][j] = centroid j of subspace s, coords in [-1, 1) on
    a 1/128 grid (exact doubles, portable literals)."""
    return [
        [
            [
                (hashlib.md5(f"pq_{s}_{j}_{i}".encode()).digest()[0] - 128)
                / 128.0
                for i in range(sub_dim)
            ]
            for j in range(k)
        ]
        for s in range(m)
    ]


def _codebook_literal(cb: list[list[list[float]]]) -> Column:
    """The codebook as ONE parsed array literal.

    Building it as nested ``F.array(F.lit(...))`` costs one py4j round
    trip per scalar — ~1.2 s of pure driver time for the default
    8×16×8 book, paid on every plan BUILD (r13, guide §1.2: the bench
    builds each query's plan fresh, and a real pipeline builds it per
    job). One ``F.expr`` string parse is ~4 ms and produces the
    identical literal: ``repr(float)`` round-trips doubles exactly and
    the ``D`` suffix pins the DOUBLE type (collect-compared)."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
                for c in cents
            )
            + ")"
            for cents in cb
        )
        + ")"
    )


def pq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    codebook: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Add ``codes`` (array<int>, one code per subspace) and
    ``recon_err`` (summed min squared-L2 — the quantization loss).

    Per-coordinate squared differences accumulate sequentially in
    coordinate order (the same left fold as the oracle's list_sum), so
    the doubles agree bit-for-bit. Argmin per subspace is ``array_min``
    over struct(dist, j): struct comparison orders by dist then j, so
    ties break deterministically toward the lower code id."""
    cb = codebook or pq_codebook()
    m, k, sub_dim = len(cb), len(cb[0]), len(cb[0][0])
    cb_lit = _codebook_literal(cb)
    v = F.col(vec_col)

    def dist(s: Column, cent: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + (
                F.element_at(v, (s * sub_dim + i).cast("int")).cast("double")
                - F.element_at(cent, i)
            )
            * (
                F.element_at(v, (s * sub_dim + i).cast("int")).cast("double")
                - F.element_at(cent, i)
            ),
        )

    def best(s: Column) -> Column:
        cents = F.element_at(cb_lit, (s + F.lit(1)).cast("int"))
        entries = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(
                dist(s, F.element_at(cents, (j + F.lit(1)).cast("int"))).alias(
                    "dist"
                ),
                j.cast("int").alias("j"),
            ),
        )
        return F.array_min(entries)

    # One evaluation of the m×k×sub_dim distance scan per row (r13
    # opt, guide §1.2 / §4): the former shape called ``best(s)`` once
    # for codes and once for dmins — four full scans per row across
    # the two output columns — and the optimizer cannot CSE across
    # separate column trees. The bests array is computed once,
    # let-bound via a single-element transform (the lambda variable is
    # evaluated once, then referenced), and both outputs are fields of
    # ONE packed struct emitted in its own projection; CollapseProject
    # keeps multi-referenced non-cheap expressions in their own
    # project, so the struct is evaluated once per row. Also shrinks
    # the pre-constant-folding plan from four codebook-literal trees
    # to one (plan build 1.4 s → 0.2 s measured at sf0.1). Arithmetic
    # is unchanged — same folds, same order — so values are
    # bit-identical (collect-compared and oracle hash-proved).
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    bests = F.transform(subspaces, lambda s: best(s))
    packed = F.element_at(
        F.transform(
            F.array(bests),
            lambda bs: F.struct(
                F.transform(bs, lambda b: b.getField("j")).alias("codes"),
                F.aggregate(
                    bs, F.lit(0.0), lambda acc, b: acc + b.getField("dist")
                ).alias("err"),
            ),
        ),
        1,
    )
    return (
        df.select("*", packed.alias("__pq"))
        .select(
            "*",
            F.col("__pq.codes").alias("codes"),
            F.col("__pq.err").alias("recon_err"),
        )
        .drop("__pq")
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebook: list[list[list[float]]] | None = None,
    k: int = 5,
    join_on: list[str] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: rank PQ-encoded corpus rows against
    raw query vectors. ``queries``: (query_id, q_emb array<float>);
    ``corpus_codes``: (vec_id, codes array<int>).

    ADC(q, t) = Σ_s ‖q_sub_s − centroid[s][codes_s]‖² — the query side
    stays exact, only the corpus is quantized, which is what preserves
    ranking quality at 32× compression. The query set broadcasts (it is
    small by definition); the corpus-codes scan streams against it and
    a single window takes the per-query top-k. Distances fold
    sequentially (subspace-major, coordinate-minor) so the oracle's
    nested list_sum reproduces them bit-for-bit.

    ``join_on``: restrict scoring to (query, corpus) rows agreeing on
    these columns instead of the full cross product — the IVF-PQ
    composition passes ``["cell_id"]`` so each query scores only its
    probed cells' codes (probed-fraction of the corpus, the production
    serving shape). Default None keeps the exhaustive ADC scan."""
    from pyspark.sql import Window as W

    cb = codebook or pq_codebook()
    m, sub_dim = len(cb), len(cb[0][0])
    cb_lit = _codebook_literal(cb)
    q = F.col("q_emb")
    codes = F.col("codes")

    def sub_adc(s: Column) -> Column:
        cent = F.element_at(
            F.element_at(cb_lit, (s + F.lit(1)).cast("int")),
            (F.element_at(codes, (s + F.lit(1)).cast("int")) + F.lit(1)).cast(
                "int"
            ),
        )
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + (
                F.element_at(q, (s * sub_dim + i).cast("int")).cast("double")
                - F.element_at(cent, i)
            )
            * (
                F.element_at(q, (s * sub_dim + i).cast("int")).cast("double")
                - F.element_at(cent, i)
            ),
        )

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc + sub_adc(s),
    )
    if join_on:
        joined = corpus_codes.join(F.broadcast(queries), join_on)
    else:
        joined = corpus_codes.crossJoin(F.broadcast(queries))
    pairs = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )
