"""Embedding similarity plans over the ``embeddings`` table
(vec_id, embedding array<float>, label), with DuckDB oracles.

Cosine math runs in double precision with sequential accumulation on
both engines (Spark: zip_with + aggregate; DuckDB:
list_cosine_similarity over DOUBLE[]), so similarity values agree to
the last bit on identical inputs; rank outputs additionally tolerate
fp noise except at exact ties (broken by neighbor id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.functions.vectors import (
    cosine_similarity,
    int8_quantize_stats,
)
from data_migration_tool_spark.operators import dedup as DD
from data_migration_tool_spark.operators import similarity as SIM
from data_migration_tool_spark.partitioning import cached
from data_migration_tool_spark.tables import load_table


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries.
    At 100 TB: queries broadcast, corpus scanned once, per-partition
    top-k before the final window (Catalyst's TakeOrdered per group)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(q, e, k=5)


KNN_BRUTE_SQL = """
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
) WHERE rank <= 5
"""


def embedding_cosine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of (i, i+250) pairs, rounded to 6 — value-level coverage of
    the vector math (rank outputs alone would hide magnitude bugs)."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 250).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")
    )
    b = e.select((F.col("vec_id") - 250).alias("id_a"), F.col("embedding").alias("v_b"))
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            F.round(cosine_similarity("v_a", "v_b"), 6).alias("cos_sim"),
        )
    )


EMB_COS_STATS_SQL = """
SELECT a.vec_id AS id_a,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 250
WHERE a.vec_id < 250
"""


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of every embedding (the ANN index
    compression step), reported as integer-exact per-vector stats —
    scan-side projection, no shuffle (functions/vectors
    .int8_quantize_stats)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", int8_quantize_stats("embedding").alias("_q")
    ).select(
        "vec_id", "_q.n_dims", "_q.q_sum", "_q.q_min", "_q.q_max",
        "_q.v_min", "_q.v_max",
    )


EMB_QUANTIZE_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM v),
q AS (
  SELECT vec_id, mn, mx,
         CASE WHEN mx - mn > 0
              THEN list_transform(v, x -> CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qs
  FROM m
)
SELECT vec_id,
       CAST(len(qs) AS INT) AS n_dims,
       CAST(list_sum(qs) AS BIGINT) AS q_sum,
       CAST(list_min(qs) AS INT) AS q_min,
       CAST(list_max(qs) AS INT) AS q_max,
       round(mn, 6) AS v_min,
       round(mx, 6) AS v_max
FROM q
"""


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.45 (ids only) — EXACT via
    the distributed block-pair mat-mul (no driver collect; small
    rows_per_block forces real multi-block execution at test scale)."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup_pairs(e, threshold=0.45, rows_per_block=128)


EMB_NEAR_DUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""


def embedding_near_dups_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs ≥ 0.45 via IVF cell bucketing (nprobe=2) — the
    sub-quadratic scale path. The oracle replicates the APPROXIMATE
    algorithm itself (fixed centroids → top-nprobe cell assignment →
    within-cell exact cosine → pair dedup), so the gate checks the
    defined semantics at any scale — recall against the exact answer is
    a separate, explicitly measured contract (``ann_recall_gate``; the
    k-means-trained path is exercised by ``ivf_trained_topk``)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("vec_id"), "embedding"
    )
    return SIM.embedding_near_dup_pairs_ivf(e, threshold=0.45, centroids=cents, nprobe=2)


EMB_NEAR_DUP_IVF_SQL = """
WITH cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
  ) WHERE rn <= 2
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
FROM assigned a JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""


def ivf_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: queries search their TWO nearest cells.
    The recall knob in action — same index as ivf_ann_topk, twice the
    probed corpus fraction. The oracle replicates multi-probe routing
    in SQL (rn <= 2 on the query-side assignment)."""
    e = load_table(spark, sf_dir, "embeddings")
    # one centroid collect for the whole routing chain (r14, VERDICT
    # r13 #5: ivf_assign and ivf_topk each re-collected the identical
    # frame — a sequential driver job apiece in a latency-bound chain)
    cent = SIM.collect_centroids(e.filter(F.col("vec_id") < 8))
    assigned = SIM.ivf_assign(e, cent)
    queries = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(queries, assigned, cent, k=3, nprobe=2)


IVF_MULTIPROBE_SQL = """
WITH cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
c_assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
),
q_assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
    WHERE e.vec_id < 10
  ) WHERE rn <= 2
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM q_assigned q JOIN c_assigned c ON q.cell_id = c.cell_id AND q.vec_id <> c.vec_id
) WHERE rank <= 3
"""


def ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of IVF multi-probe ANN against exact brute force, as a
    gated query: one row (k, nprobe, n_queries, recall_at_k,
    meets_bound). The declared bound (0.80) is the operator's recall
    contract — if an index change drops recall below it, this query's
    hash (and meets_bound) flips and the gate fails. Both sides are
    SQL-expressible, so the oracle independently recomputes the recall
    from scratch."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(queries, e, k=3).select(
        "query_id", "neighbor_id"
    )
    # one centroid collect for the whole routing chain (r14, see
    # ivf_ann_multiprobe)
    cent = SIM.collect_centroids(e.filter(F.col("vec_id") < 8))
    assigned = SIM.ivf_assign(e, cent)
    approx = (
        SIM.ivf_topk(queries, assigned, cent, k=3, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left_outer")
        .agg(
            F.lit(3).alias("k"),
            F.lit(2).alias("nprobe"),
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall_at_k"),
        )
        .withColumn("meets_bound", F.col("recall_at_k") >= 0.80)
    )


ANN_RECALL_SQL = """
WITH cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
c_assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
),
q_assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
    WHERE e.vec_id < 10
  ) WHERE rn <= 2
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM q_assigned q JOIN c_assigned c ON q.cell_id = c.cell_id AND q.vec_id <> c.vec_id
  ) WHERE rank <= 3
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 3
)
SELECT CAST(3 AS INT) AS k,
       CAST(2 AS INT) AS nprobe,
       CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       round(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_k,
       round(CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) >= 0.80 AS meets_bound
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
"""


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: 8 centroid vectors (vec_id < 8), corpus
    assigned to max-cosine cells, queries (vec_id < 10) search only
    their own cell — the 1000-executor scale path where each cell is a
    co-located partition."""
    e = load_table(spark, sf_dir, "embeddings")
    # one centroid collect for the whole routing chain (r14, see
    # ivf_ann_multiprobe)
    cent = SIM.collect_centroids(e.filter(F.col("vec_id") < 8))
    assigned = SIM.ivf_assign(e, cent)
    queries = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(queries, assigned, cent, k=3)


IVF_ANN_SQL = """
WITH cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM assigned q JOIN assigned c ON q.cell_id = c.cell_id AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rank <= 3
"""


def ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF pipeline with TRAINED centroids: fixed-point
    k-means fits 8 cells on the embedding corpus (deterministic hash
    init, 3 Lloyd iterations — operators/similarity.kmeans_fit_exact),
    then queries search only their own cell, ranked by integer
    squared-L2. Every quantity is an int64, so this sits in the
    exact-hash oracle lane: the DuckDB twin unrolls the same 3 Lloyd
    rounds over the same quantized coordinates (float k-means sums in
    partition order and could never be cross-engine exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    # as_rows: the trained centroids are already driver state — skip
    # the createDataFrame → collect round trip
    cents = SIM.kmeans_fit_exact(e, k=8, iters=3, as_rows=True)
    queries = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_exact_topk(queries, e, cents, k=3)


def _ivf_trained_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Chained-CTE unroll of the exact fixed-point k-means + IVF
    search — the DuckDB twin of ``kmeans_fit_exact``/``ivf_exact_topk``
    (same pattern as the PageRank and BPE oracles: fixed round count →
    plain derived-table SQL, MATERIALIZED to stop per-round
    re-inlining)."""
    rng = f"range(1, {dim + 1})"
    dist = (
        "list_sum(list_transform(" + rng + ", j -> "
        "(v.q[j] - c.q[j]) * (v.q[j] - c.q[j])))"
    )
    ctes = [
        f"""qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform({rng},
           i -> CAST(floor((embedding[i]::DOUBLE + 2.0) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings
)""",
        f"""c0 AS MATERIALIZED (
  SELECT (ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))) - 1 AS cell, q
  FROM qv ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}
)""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, q, cell FROM (
    SELECT v.vec_id, v.q, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cell) AS rn
    FROM qv v CROSS JOIN c{p} c
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""dm{i} AS (
  SELECT cell, j, CAST(CAST(SUM(q[j]) AS BIGINT) // COUNT(*) AS BIGINT) AS m
  FROM a{i}, UNNEST({rng}) AS u(j)
  GROUP BY cell, j
)"""
        )
        ctes.append(
            f"nc{i} AS (SELECT cell, list(m ORDER BY j) AS q FROM dm{i} GROUP BY cell)"
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT cell, q FROM nc{i}
  UNION ALL
  SELECT cell, q FROM c{p} WHERE cell NOT IN (SELECT cell FROM nc{i})
)"""
        )
    ctes.append(
        f"""afin AS MATERIALIZED (
  SELECT vec_id, q, cell FROM (
    SELECT v.vec_id, v.q, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cell) AS rn
    FROM qv v CROSS JOIN c{iters} c
  ) WHERE rn = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, vec_id, dist_sq, rank FROM (
  SELECT qa.vec_id AS query_id, ca.vec_id AS vec_id,
         CAST(list_sum(list_transform({rng},
           j -> (qa.q[j] - ca.q[j]) * (qa.q[j] - ca.q[j]))) AS BIGINT) AS dist_sq,
         ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                            ORDER BY list_sum(list_transform({rng},
                              j -> (qa.q[j] - ca.q[j]) * (qa.q[j] - ca.q[j]))),
                            ca.vec_id) AS rank
  FROM afin qa JOIN afin ca ON ca.cell = qa.cell AND ca.vec_id <> qa.vec_id
  WHERE qa.vec_id < 10
) WHERE rank <= 3
"""
    )


IVF_TRAINED_SQL = _ivf_trained_sql()


def _lsh_mask_expr() -> F.Column:
    """The corpus-derived bucket-width mask as a Catalyst WHEN chain
    over an ``n_vecs`` column — smallest p with n ≤ 64·2^p, expressed
    as the low-p-bits mask of the static 16-bit bucket (see
    ``similarity.lsh_mask_ladder``). Pure integer thresholds, so the
    SQL CASE twin derives bit-identical widths."""
    mask_expr = None
    for max_n, mask in SIM.lsh_mask_ladder():
        cond = F.col("n_vecs") <= max_n
        mask_expr = (
            F.when(cond, mask)
            if mask_expr is None
            else mask_expr.when(cond, mask)
        )
    return mask_expr.otherwise((1 << SIM.LSH_MAX_BITS) - 1).cast("bigint")


def emb_lsh_near_dups(
    spark: SparkSession, sf_dir: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-dup pairs ≥ 0.45 via sign-LSH bucketing with a CORPUS-
    DERIVED bucket width — the angle-family complement of the IVF cell
    path. The bucket join costs Σ bucket², so the hyperplane count p is
    derived from the corpus size (smallest p with n ≤ 64·2^p, p ∈
    [4, 16]) instead of being a static knob: expected occupancy — and
    with it the per-bucket quadratic term — stays constant as the
    corpus grows. One static 16-bit bucket expression serves every
    width (bit b is independent of the total width), and the derived
    part is a single broadcast scalar mask over its low p bits; at the
    gate scale (n = 500 → p = 4) the bucketing is bit-identical to the
    historical 4-hyperplane version. Pairs are compared only within a
    bucket; the exact cosine (sequential HOF accumulation, bit-
    identical to DuckDB) filters false collisions. The oracle
    replicates the approximate semantics with the SAME embedded sign
    matrix and the SAME integer threshold ladder, so the gate checks
    the defined bucketing at any scale (recall-vs-exact is the usual
    LSH trade: more hyperplane tables → higher recall)."""
    e = load_table(spark, sf_dir, "embeddings")
    signs = SIM.hyperplane_signs(n_bits=SIM.LSH_MAX_BITS, dim=64)
    stats = e.agg(F.count(F.lit(1)).alias("n_vecs"))
    mask_expr = _lsh_mask_expr()
    # the bucketed frame is cached: it feeds both self-join sides, and
    # uncached each side re-runs the 16x64 hyperplane dot-product
    # expression over the corpus (guide §1.2). The cache is (vec_id,
    # embedding, bucket) — the same bytes the bucket-keyed join
    # shuffles anyway.
    bucketed = (
        e.select(
            "vec_id",
            "embedding",
            SIM.hyperplane_lsh_bucket("embedding", signs).alias("b_full"),
        )
        .crossJoin(F.broadcast(stats.select(mask_expr.alias("mask"))))
        .select(
            "vec_id",
            "embedding",
            F.col("b_full").bitwiseAND(F.col("mask")).alias("bucket"),
        )
    )
    with cached(bucketed) as b:
        if max_bucket_size is not None:
            # hot-bucket valve (default OFF: exact LSH semantics,
            # matching the SQL oracle) — see similarity.cap_bucket_size
            b = SIM.cap_bucket_size(b, "bucket", max_bucket_size)
        a = b.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"), "bucket"
        )
        c = b.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"), "bucket"
        )
        return (
            a.join(c, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cosine_similarity("v_a", "v_b") >= 0.45)
            .select("id_a", "id_b", "bucket")
            .localCheckpoint(eager=True)
        )


def _lsh_pair_ctes() -> str:
    """CTE chain ending in ``lsh_pairs(id_a, id_b, bucket)`` — the
    sign-LSH near-dup pair set, shared by the pair query's oracle and
    the semantic-cluster oracle. Mirrors the Spark side exactly: the
    static 16-hyperplane bucket masked to a corpus-derived width via
    the same integer threshold ladder (see
    ``similarity.lsh_mask_ladder``)."""
    from data_migration_tool_spark.operators.similarity import (
        LSH_MAX_BITS,
        hyperplane_signs,
        lsh_mask_ladder,
    )

    rows = ",\n  ".join(
        f"({b}, {[float(s) for s in row]})"
        for b, row in enumerate(hyperplane_signs(n_bits=LSH_MAX_BITS, dim=64))
    )
    ladder = "\n           ".join(
        f"WHEN n_vecs <= {max_n} THEN {mask}" for max_n, mask in lsh_mask_ladder()
    )
    return f"""planes(b, s) AS (VALUES
  {rows}
),
d AS (
  SELECT e.vec_id, p.b,
         list_sum(list_transform(range(1, 65),
           j -> e.embedding[j]::DOUBLE * p.s[j])) AS dot
  FROM embeddings e, planes p
),
msk AS (
  SELECT CAST(CASE {ladder}
           ELSE {(1 << LSH_MAX_BITS) - 1} END AS BIGINT) AS mask
  FROM (SELECT COUNT(*) AS n_vecs FROM embeddings)
),
bk AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) & msk.mask
           AS bucket
  FROM d, msk GROUP BY vec_id, msk.mask
),
lsh_pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, ab.bucket
  FROM embeddings a JOIN bk ab ON ab.vec_id = a.vec_id
  JOIN bk cb ON cb.bucket = ab.bucket
  JOIN embeddings c ON c.vec_id = cb.vec_id AND a.vec_id < c.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) >= 0.45
)"""


EMB_LSH_NEAR_DUP_SQL = (
    "WITH " + _lsh_pair_ctes() + "\nSELECT id_a, id_b, bucket FROM lsh_pairs"
)


def emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end: sign-LSH bucketed near-dup pairs
    (``emb_lsh_near_dups``) resolved into connected components by
    min-label propagation — (vec_id, cluster_id = min vec_id in the
    component). The full semantic-dup pipeline a training mix runs over
    embedding space: bucket → verify cosine → cluster → (downstream)
    keep one per cluster. Same O(diameter)-round iteration as the
    MinHash document path; the oracle states the identical clustering
    declaratively as a recursive CTE over the identical pair set."""
    pairs = emb_lsh_near_dups(spark, sf_dir)
    return DD.dup_clusters(pairs, id_col="vec_id", loop_shuffle_partitions=8)


EMB_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_lsh_pair_ctes()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM lsh_pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id
),
clusters AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT vec_id, cluster_id FROM clusters
"""


# Hot-bucket valve contract: buckets over 4× the target occupancy are
# dropped from the pairwise join and rerouted through exact dedup.
HOT_BUCKET_CAP = 4 * SIM.LSH_TARGET_OCCUPANCY
_PLANTED_COPIES = 300


def emb_lsh_hot_bucket_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket valve's drop-and-reroute protocol, oracle-pinned:
    plant a mass-duplicated embedding (300 exact copies of the min-id
    vector — the adversarial input class: corpus-wide boilerplate or a
    repeated zero vector), sign-LSH-bucket the augmented corpus, then
    route each bucket by its member count. Buckets within
    ``HOT_BUCKET_CAP`` (4× the derivation's target occupancy, so a
    well-sized corpus never trips it) take the normal pairwise
    cosine-verify path; buckets over the cap are DROPPED from the
    pairwise join — a B-row bucket costs B² in one task, and the
    planted bucket would otherwise emit ~45k pairs pinning one executor
    — and their members reroute through exact hash-groupBy dedup on the
    fixed-point fingerprint (O(B) star edges to the group's min id, the
    ``similarity.cap_bucket_size`` protocol).  Output is one edge list:
    (id_a, id_b, route ∈ {lsh, exact}).

    Scale: the valve is the reason one adversarial duplicate blob
    cannot break the Σ bucket² contract at 100 TB; the exact lane's
    groupBy is linear in hot-bucket rows. The two route branches
    recompute the sized bucketing (one extra 16-dot-product scan —
    see the inline note for why neither a cache nor a localCheckpoint
    wins here); a materializing cluster pipeline would share it through
    ``partitioning.cached``."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bounds = e.agg(
        F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")
    )
    src = e.join(
        F.broadcast(bounds.select(F.col("mn").alias("vec_id"), "mx")), "vec_id"
    )
    planted = src.crossJoin(spark.range(_PLANTED_COPIES)).select(
        (F.col("mx") + 1 + F.col("id")).cast("long").alias("vec_id"),
        "embedding",
    )
    aug = e.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding").unionByName(
        planted
    )
    signs = SIM.hyperplane_signs(n_bits=SIM.LSH_MAX_BITS, dim=64)
    stats = aug.agg(F.count(F.lit(1)).alias("n_vecs"))
    b = (
        aug.select(
            "vec_id",
            "embedding",
            SIM.hyperplane_lsh_bucket("embedding", signs).alias("b_full"),
        )
        .crossJoin(F.broadcast(stats.select(_lsh_mask_expr().alias("mask"))))
        .select(
            "vec_id",
            "embedding",
            F.col("b_full").bitwiseAND(F.col("mask")).alias("bucket"),
        )
    )
    # the two route branches recompute the sized bucketing rather than
    # cache it: this lane returns a lazy frame, so a cache could not be
    # consumed before its release, and a lazy localCheckpoint measured
    # pathological at gate SF (139 s vs 11 s at sf0.01 — the checkpoint
    # write dominates tiny inputs). The recompute costs one extra scan
    # (3.3 s vs 2.2 s at sf0.1).
    sized = SIM.bucket_sizes(b, "bucket")
    cold = sized.filter(F.col("__bsz") <= HOT_BUCKET_CAP).drop("__bsz")
    hot = sized.filter(F.col("__bsz") > HOT_BUCKET_CAP).drop("__bsz")
    a = cold.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"), "bucket"
    )
    c = cold.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"), "bucket"
    )
    lsh = (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("v_a", "v_b") >= 0.45)
        .select("id_a", "id_b", F.lit("lsh").alias("route"))
    )
    fp = hot.select(
        "vec_id",
        "bucket",
        F.concat_ws(
            ",",
            F.transform(
                SIM.quantize_vec("embedding"), lambda x: x.cast("string")
            ),
        ).alias("fp"),
    )
    canon = fp.groupBy("bucket", "fp").agg(F.min("vec_id").alias("id_a"))
    exact = (
        fp.join(canon, ["bucket", "fp"])
        .filter(F.col("vec_id") != F.col("id_a"))
        .select("id_a", F.col("vec_id").alias("id_b"), F.lit("exact").alias("route"))
    )
    return lsh.unionByName(exact)


def _hot_bucket_sql() -> str:
    """DuckDB twin of ``emb_lsh_hot_bucket_dedup``: identical planted
    augmentation, identical sign matrix / width ladder, identical cap,
    identical fixed-point fingerprint — the whole reroute protocol is
    hash-checked, not just unit-tested."""
    from data_migration_tool_spark.operators.similarity import (
        LSH_MAX_BITS,
        hyperplane_signs,
        lsh_mask_ladder,
    )

    rows = ",\n  ".join(
        f"({b}, {[float(s) for s in row]})"
        for b, row in enumerate(hyperplane_signs(n_bits=LSH_MAX_BITS, dim=64))
    )
    ladder = "\n           ".join(
        f"WHEN n_vecs <= {max_n} THEN {mask}" for max_n, mask in lsh_mask_ladder()
    )
    return f"""
WITH planes(b, s) AS (VALUES
  {rows}
),
aug AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings
  UNION ALL
  SELECT CAST((SELECT MAX(vec_id) FROM embeddings) + 1 + t.i AS BIGINT) AS vec_id,
         e.embedding
  FROM embeddings e, range({_PLANTED_COPIES}) t(i)
  WHERE e.vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
d AS (
  SELECT a.vec_id, p.b,
         list_sum(list_transform(range(1, 65),
           j -> a.embedding[j]::DOUBLE * p.s[j])) AS dot
  FROM aug a, planes p
),
msk AS (
  SELECT CAST(CASE {ladder}
           ELSE {(1 << LSH_MAX_BITS) - 1} END AS BIGINT) AS mask
  FROM (SELECT COUNT(*) AS n_vecs FROM aug)
),
bk AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) & msk.mask
           AS bucket
  FROM d, msk GROUP BY vec_id, msk.mask
),
sz AS (SELECT bucket, COUNT(*) AS bsz FROM bk GROUP BY bucket),
memb AS (
  SELECT k.vec_id, k.bucket, s.bsz, a.embedding
  FROM bk k JOIN sz s ON s.bucket = k.bucket
  JOIN aug a ON a.vec_id = k.vec_id
),
lsh AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, 'lsh' AS route
  FROM memb a JOIN memb c ON c.bucket = a.bucket AND a.vec_id < c.vec_id
  WHERE a.bsz <= {HOT_BUCKET_CAP}
    AND list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) >= 0.45
),
fpr AS (
  SELECT vec_id, bucket,
         array_to_string(list_transform(range(1, 65),
           i -> CAST(floor((embedding[i]::DOUBLE + 2.0) * 1048576.0) AS BIGINT)),
           ',') AS fp
  FROM memb WHERE bsz > {HOT_BUCKET_CAP}
),
canon AS (SELECT bucket, fp, MIN(vec_id) AS id_a FROM fpr GROUP BY bucket, fp),
exct AS (
  SELECT c.id_a, f.vec_id AS id_b, 'exact' AS route
  FROM fpr f JOIN canon c ON c.bucket = f.bucket AND c.fp = f.fp
  WHERE f.vec_id <> c.id_a
)
SELECT id_a, id_b, route FROM lsh
UNION ALL
SELECT id_a, id_b, route FROM exct
"""


EMB_LSH_HOT_BUCKET_SQL = _hot_bucket_sql()


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit 8-component PCA on the embedding corpus (one moment-partial
    pass, O(d²) driver transfer) and project every vector (one batch
    mat-mul pass). Float-iterative, so rows-only at the gate; the
    value contract is the numpy-reference equality test in
    tests/test_dataops.py (same policy as k-means)."""
    from data_migration_tool_spark.operators.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, n_components=8)
    proj = pca_project(emb, model)
    return proj.select(
        "vec_id",
        F.round(F.element_at("pcs", 1), 6).alias("pc1"),
        F.round(F.element_at("pcs", 2), 6).alias("pc2"),
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize the embedding corpus: 64 dims → 8 subspace
    codes (32× compression — the storage layout of billion-scale
    IVF-PQ indexes) plus the per-vector quantization loss. Scan-side
    expression work only; see operators/pq.py."""
    from data_migration_tool_spark.operators.pq import pq_encode

    e = load_table(spark, sf_dir, "embeddings")
    # codes is array<int>; project it as a comma-joined string so the
    # driver's pandas canonicalizer (which cannot sort list columns)
    # and the DuckDB oracle (array_to_string) agree representation-wise.
    return pq_encode(e).select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_err",
    )


def _pq_ctes() -> str:
    """CTE chain ending in ``pq(vec_id, codes, recon_err)`` — the PQ
    encoding of the corpus, shared by the encode oracle and the ADC
    search oracle."""
    from data_migration_tool_spark.operators.pq import pq_codebook

    cb = pq_codebook()
    rows = ",\n  ".join(
        f"({s}, {j}, {list(c)}::DOUBLE[])"
        for s, centroids in enumerate(cb)
        for j, c in enumerate(centroids)
    )
    return f"""cb(s, j, c) AS (VALUES
  {rows}
),
d AS (
  SELECT e.vec_id, cb.s, cb.j,
         list_sum(list_transform(
           list_transform(range(1, 9),
             i -> e.embedding[cb.s * 8 + i]::DOUBLE - cb.c[i]),
           x -> x * x)) AS dist
  FROM embeddings e, cb
),
a AS (
  SELECT vec_id, s, j AS code, dist AS mind FROM (
    SELECT vec_id, s, j, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM d
  ) WHERE rn = 1
),
pq AS (
  SELECT vec_id,
         list(code ORDER BY s) AS codes,
         list_sum(list(mind ORDER BY s)) AS recon_err
  FROM a GROUP BY vec_id
)"""


EMB_PQ_SQL = (
    "WITH " + _pq_ctes()
    + "\nSELECT vec_id, array_to_string(codes, ',') AS codes, recon_err FROM pq"
)


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed corpus —
    the search half of IVF-PQ: the corpus side carries only its 8 code
    ids (32× less state than raw vectors; at 100 TB this is the
    difference between an in-memory index and one that spills), and
    each query scores a candidate by summing per-subspace exact
    query-to-centroid distances looked up through the candidate's
    codes. Queries broadcast; corpus codes stream; one window for the
    per-query top-k."""
    from data_migration_tool_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    corpus = PQ.pq_encode(e).select("vec_id", "codes")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return PQ.pq_adc_topk(queries, corpus, k=5)


def _pq_adc_oracle_sql() -> str:
    from data_migration_tool_spark.operators.pq import pq_codebook

    cbl = repr(pq_codebook())  # nested list literal, valid DuckDB syntax
    return f"""
WITH {_pq_ctes()},
q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
),
pairs AS (
  SELECT q.query_id, t.vec_id AS neighbor_id,
         list_sum(list_transform(range(0, 8), s ->
           list_sum(list_transform(
             list_transform(range(1, 9),
               i -> q.embedding[s * 8 + i]::DOUBLE
                    - ({cbl}::DOUBLE[][][])[s + 1][t.codes[s + 1] + 1][i]),
             x -> x * x)))) AS adc_dist
  FROM q, pq t
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS rank
  FROM pairs
) WHERE rank <= 5
"""


PQ_ADC_SQL = _pq_adc_oracle_sql()


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end — the canonical billion-scale ANN serving
    stack assembled from this repo's two halves: IVF routing (each
    query probes its 2 nearest cells; the corpus lives in exactly one
    cell each) composed with ADC scoring over the PQ codes of ONLY the
    probed cells. Per query the scored fraction is ≈ nprobe/n_cells of
    the corpus, and each scored row costs an 8-byte code lookup — the
    two multiplicative reductions (probe fraction × 32× compression)
    that make a 100 TB embedding corpus searchable from memory.
    Mechanics: cell routing is the broadcast-centroid single pass
    (``ivf_assign``), the candidate restriction is ONE equi-join on
    cell_id with the query set broadcast, and the per-query top-k is a
    single window. The oracle replays routing, encoding, and the
    cell-restricted ADC ranking declaratively."""
    from data_migration_tool_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    # one centroid collect for both ivf_assign calls (r14, see
    # ivf_ann_multiprobe)
    cents = SIM.collect_centroids(e.filter(F.col("vec_id") < 8))
    corpus = PQ.pq_encode(SIM.ivf_assign(e, cents)).select(
        "vec_id", "codes", "cell_id"
    )
    queries = SIM.ivf_assign(
        e.filter(F.col("vec_id") < 10), cents, nprobe=2
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cell_id",
    )
    return PQ.pq_adc_topk(queries, corpus, k=5, join_on=["cell_id"])


def _ivf_pq_oracle_sql() -> str:
    from data_migration_tool_spark.operators.pq import pq_codebook

    cbl = repr(pq_codebook())
    return f"""
WITH {_pq_ctes()},
cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings WHERE vec_id < 8),
c_assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
),
q_assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[]) DESC,
                      c.cell_id ASC
           ) AS rn
    FROM embeddings e, cents c
    WHERE e.vec_id < 10
  ) WHERE rn <= 2
),
pairs AS (
  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
         list_sum(list_transform(range(0, 8), s ->
           list_sum(list_transform(
             list_transform(range(1, 9),
               i -> q.embedding[s * 8 + i]::DOUBLE
                    - ({cbl}::DOUBLE[][][])[s + 1][t.codes[s + 1] + 1][i]),
             x -> x * x)))) AS adc_dist
  FROM q_assigned q
  JOIN c_assigned ca ON ca.cell_id = q.cell_id
  JOIN pq t ON t.vec_id = ca.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS rank
  FROM pairs
) WHERE rank <= 5
"""


IVF_PQ_TOPK_SQL = _ivf_pq_oracle_sql()


def pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production IVF-PQ serving shape:
    stage 1 scans only the 8-byte PQ codes and takes ADC top-20
    candidates per query (cheap, compressed, approximate); stage 2
    joins JUST those candidates back to their raw vectors and re-ranks
    by exact cosine for the final top-5. At 100 TB the exact math
    touches 20 rows per query instead of the corpus — the candidate
    join is a broadcast (queries × 20 ids), so stage 2 adds no
    corpus-scale shuffle."""
    from data_migration_tool_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    corpus = PQ.pq_encode(e).select("vec_id", "codes")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = PQ.pq_adc_topk(queries, corpus, k=20).select(
        "query_id", "neighbor_id"
    )
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    scored = (
        F.broadcast(cands.join(F.broadcast(queries), "query_id"))
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_emb", "n_emb"), 6).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _pq_rerank_oracle_sql() -> str:
    from data_migration_tool_spark.operators.pq import pq_codebook

    cbl = repr(pq_codebook())
    return f"""
WITH {_pq_ctes()},
q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
),
pairs AS (
  SELECT q.query_id, t.vec_id AS neighbor_id,
         list_sum(list_transform(range(0, 8), s ->
           list_sum(list_transform(
             list_transform(range(1, 9),
               i -> q.embedding[s * 8 + i]::DOUBLE
                    - ({cbl}::DOUBLE[][][])[s + 1][t.codes[s + 1] + 1][i]),
             x -> x * x)))) AS adc_dist
  FROM q, pq t
),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_dist, neighbor_id
           ) AS rk
    FROM pairs
  ) WHERE rk <= 20
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ne.embedding::DOUBLE[]), 6) AS cos_sim
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
         ) AS rank
  FROM scored
) WHERE rank <= 5
"""


PQ_RERANK_SQL = _pq_rerank_oracle_sql()


def embedding_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: squared L2 distance of every vector to
    its LABEL's centroid — the per-point signal behind inertia/drift
    monitoring of a partitioned embedding corpus.

    Exactness strategy: centroids are means of per-dimension DECIMAL
    sums (order-independent, so any partitioning yields the same
    centroid bit-for-bit); per-vector distances then fold the 64
    squared diffs in dimension order (sort_array + sequential
    aggregate), matching the oracle's ordered list_sum. Shuffles:
    (label, dim) centroid agg — 64·|labels| rows — broadcast back to
    the (vec, dim) stream, one vec-grain re-agg."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    sq = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            F.struct(
                F.col("pos").alias("pos"),
                ((F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))).alias("s"),
            ).alias("ps"),
        )
    )
    return (
        sq.groupBy("vec_id", "label")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("ps")),
                    F.lit(0.0),
                    lambda acc, x: acc + x.getField("s"),
                ),
                6,
            ).alias("dist_sq")
        )
    )


EMB_CENTROID_DIST_SQL = """
WITH ex AS (
  SELECT vec_id, label, i AS pos, embedding[i]::DOUBLE AS val
  FROM embeddings, unnest(range(1, 65)) AS u(i)
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
  FROM ex GROUP BY label, pos
),
sq AS (
  SELECT e.vec_id, e.label, e.pos, (e.val - c.c) * (e.val - c.c) AS s
  FROM ex e JOIN cent c ON c.label = e.label AND c.pos = e.pos
)
SELECT vec_id, label, round(list_sum(list(s ORDER BY pos)), 6) AS dist_sq
FROM sq GROUP BY vec_id, label
"""


# ---------------------------------------------------------------------------
# kNN majority-label vote (embedding-space classifier evaluation)
# ---------------------------------------------------------------------------

def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label prediction for the first 50 vectors —
    the classifier-eval companion to ``knn_brute_force``: does the
    embedding space actually cluster by label? Votes tie-break to the
    smaller label so the prediction is deterministic.

    Scale shape (100 TB): the query block broadcasts as a dense matrix
    (guarded, see similarity._collect_matrix); the corpus streams once
    through the Arrow block-mat-mul scorer with per-partition top-k, so
    the only full-width shuffle is the final k-row-per-query window.
    The vote itself runs on k*Q rows — dust. Label lookup joins are
    broadcast (neighbor ids join back to the corpus projection at
    id+label width, never embedding width).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    nn = SIM.brute_force_topk(q, e, k=5)
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        nn.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    pred = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    truth = q.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .select(
            F.col("query_id").alias("vec_id"),
            "true_label",
            F.col("n_label").alias("pred_label"),
            "votes",
        )
    )


KNN_LABEL_VOTE_SQL = """
WITH nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
                        q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
  ) WHERE rank <= 5
),
votes AS (
  SELECT nn.query_id, e.label AS n_label, CAST(count(*) AS BIGINT) AS votes
  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, n_label, votes,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY votes DESC, n_label ASC) AS rn
  FROM votes
)
SELECT p.query_id AS vec_id, q.label AS true_label,
       p.n_label AS pred_label, p.votes
FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
WHERE p.rn = 1
"""


def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for the first 50 vectors: the 5
    most-similar corpus vectors with a DIFFERENT label — the training
    companion to ``knn_label_vote`` (that query asks "does the space
    cluster by label"; this one harvests the label-crossing pairs a
    contrastive loss trains against). Post-filtering a plain top-k is
    not equivalent: a query surrounded by >k same-label neighbors
    would lose negatives — the label mask must live inside the scorer
    (``similarity.hard_negative_topk``, same broadcast-queries /
    stream-corpus-once block-mat-mul shape as ``knn_brute_force``).

    Output stays float-free (ids/ranks/labels only), the family's
    cross-engine contract.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50)
    nn = SIM.hard_negative_topk(q, e, k=5)
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neg_label")
    )
    truth = q.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        nn.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(truth), "query_id")
        .select(
            F.col("query_id").alias("vec_id"),
            "true_label",
            "rank",
            "neighbor_id",
            "neg_label",
        )
    )


ANN_HARD_NEGATIVES_SQL = """
SELECT query_id AS vec_id, true_label, rank, neighbor_id, neg_label
FROM (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS neg_label,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(
                      q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id AND q.label <> c.label
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Exact fixed-point power-iteration PCA (top component, hash-gated)
# ---------------------------------------------------------------------------

_PCA_Q = 4096  # input quantization: q = floor(val * 4096)
_PCA_D = 1 << 20  # scatter-matrix rescale divisor
_PCA_S = 4096  # iteration vector scale (normalized to max|x| = S)
_PCA_ROUNDS = 200
_PCA_DIM = 64


def _pca_x0(i: int) -> int:
    """Deterministic LCG-scrambled start coordinate in [-S, S]. The
    all-ones start looked natural but was data-hostile: at sf0.1 its
    overlap with the top eigenvector is ~0 and the truncating iteration
    locked onto the SECOND eigenvector. A scrambled start has generic
    ~1/sqrt(d) overlap with every direction. Same closed form in the
    SQL twin."""
    return ((1103515245 * (i + 12345)) % (2 * _PCA_S + 1)) - _PCA_S


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the semantics BOTH
    Spark's ``div`` and DuckDB's ``//`` use (verified: -7 div 2 = -3
    on each). Python's ``//`` floors, so negatives need the flip."""
    return -((-a) // b) if a < 0 else a // b


def _pca_int64_guard(n: int, qmax: int, query: str) -> None:
    """Refuse the fixed-point scatter build when its int64 contract
    would silently break (VERDICT r8 ask #6: the docstring's
    "n ≤ ~2e5" bound, priced as a runtime check DERIVED from the
    corpus stats, not a static row cap). The binding term is the
    centered scatter entry ``n·G_ij − s_i·s_j``: each factor is
    bounded by n·qmax², so |entry| ≤ 2·n²·qmax². Past 2^63 the Spark
    gram sum (``sum(qi*qj)`` under non-ANSI semantics) can WRAP
    silently and the DuckDB twin's BIGINT lane diverges — both sides
    of the cross-engine contract die, so the operator must refuse
    loudly and name the escape hatch (lift the scatter matrix into
    decimal(38,0) on both engines, the same lift the drift numerators
    already use). The rank-2 query's extra projection-dot bound
    (crosses at n ≈ 3.7e5 after the /4S pre-scale) is strictly looser
    than this one, so one guard covers both queries."""
    implied = 2 * n * n * qmax * qmax
    if implied >= 2**63:
        raise RuntimeError(
            f"{query}: fixed-point scatter entry bound 2·n²·qmax² = "
            f"{implied:.3e} exceeds int64 (n={n:,}, qmax={qmax:,}) — "
            "the exact lane's cross-engine contract would silently "
            "break. Lift the scatter matrix to decimal(38,0) on both "
            "engines, or reduce the quantization scale."
        )


def embedding_pca_power_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by FIXED-POINT power iteration — PCA's
    entry into the exact-hash lane (same move that made k-means and
    PageRank gate-checkable): quantize coordinates to integers
    (floor(val*4096) — exact in both engines, x4096 is a pure exponent
    shift even in float32), build the integer scatter matrix
    n*G - s*s^T (mean-centering without non-integer means), rescale by
    2^20, and run 200 rounds of x <- trunc-div(M*x*S, max|M*x|) from the
    all-ones start. Every step is int64 truncating arithmetic, so the
    result is order-independent and bit-identical cross-engine; the
    DuckDB twin unrolls the identical recurrence as chained CTEs.
    Output: the UNNORMALIZED integer projection of every vector onto
    the final direction. The float 8-component ``embedding_pca_project``
    (true eigh) stays rows-only — this query pins the top component
    exactly.

    Scale shape (r13 rework, guide §2.4 — remove shuffles): the
    quantized vectors persist ONCE as per-row arrays; the Gramian is
    an in-row double posexplode of that array (pair generation
    map-side — the former vec_id-keyed self-join paid two cache scans
    plus a join exchange) into one groupBy at (i,j) grain — d^2 =
    4096 groups regardless of corpus size, map-side partials; the
    12-round iteration runs on the collected d x d integer matrix —
    O(d^2) driver state, the same budget pca_fit already spends, zero
    per-round cluster work; the projection is a PURE MAP pass — the
    converged direction is a d-element parsed literal array and
    pc1_raw = aggregate(zip_with(qs, x, *), +) evaluates in-row, so
    the final plan has zero joins and zero exchanges (int64 addition
    is associative: same sum as the former vec_id groupBy,
    oracle hash-proved).
    int64 headroom: |M| <= n^2 * q_max^2 needs n <= ~2e5 at these
    scales — past that, lift the scatter matrix into decimal(38,0)
    (both engines) exactly as the drift numerators do. The bound is
    ENFORCED at runtime (``_pca_int64_guard`` over the corpus-derived
    n and max|q|), so crossing it refuses loudly instead of silently
    wrapping."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow, d, m = _pca_scatter(emb)
    x = [_pca_x0(i) for i in range(d)]
    for _ in range(_PCA_ROUNDS):
        y = [sum(m[(i, j)] * x[j] for j in range(d)) for i in range(d)]
        mx = max(max(abs(v) for v in y), 1)
        x = [_tdiv(v * _PCA_S, mx) for v in y]
    xarr = "array(" + ", ".join(f"{v}L" for v in x) + ")"
    out = qrow.select(
        "vec_id",
        F.expr(
            f"CAST(aggregate(zip_with(qs, {xarr}, (q, xv) -> q * xv), "
            f"0L, (acc, t) -> acc + t) AS BIGINT)"
        ).alias("pc1_raw"),
    )
    return out


def _pca_scatter(emb: DataFrame):
    """``(qrow, d, m)`` for the exact PCA lanes: the quantized rows
    ``qrow`` (vec_id, qs), the dimension and the integer scatter matrix
    ``m[(i, j)]`` from the row count, per-dimension sums and Gramian,
    with the int64 bound enforced. ``qrow`` is cached while the two
    moment aggregates collect; the caller's projection over it is a
    pure map."""
    qs = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> "
            f"CAST(FLOOR(CAST(v AS DOUBLE) * {_PCA_Q}) AS BIGINT))"
        ).alias("qs"),
    )
    with cached(qs) as qrow:
        n = emb.count()
        stats = (
            qrow.select(F.posexplode("qs").alias("pos", "q"))
            .groupBy("pos")
            .agg(
                F.sum("q").cast("long").alias("s"),
                F.max(F.abs(F.col("q"))).alias("qm"),
            )
            .collect()
        )
        _pca_int64_guard(
            n,
            max((r["qm"] for r in stats), default=0),
            "embedding_pca_power_exact family",
        )
        g = {
            (r["i"], r["j"]): r["g"]
            for r in qrow.select(F.posexplode("qs").alias("i", "qi"), "qs")
            .select("i", "qi", F.posexplode("qs").alias("j", "qj"))
            .groupBy("i", "j")
            .agg(F.sum(F.col("qi") * F.col("qj")).cast("long").alias("g"))
            .collect()
        }
    s = {r["pos"]: r["s"] for r in stats}
    d = len(s)
    m = {
        (i, j): _tdiv(n * g[(i, j)] - s[i] * s[j], _PCA_D)
        for i in range(d)
        for j in range(d)
    }
    return qrow, d, m


def _pca_round_ctes(k: int) -> str:
    prev = f"x{k - 1}" if k > 1 else "x0"
    return f"""y{k} AS MATERIALIZED (
  SELECT m.i AS pos, CAST(SUM(m.mv * p.xv) AS BIGINT) AS yv
  FROM m JOIN {prev} p ON p.pos = m.j GROUP BY 1
),
x{k} AS MATERIALIZED (
  SELECT pos,
         (yv * {_PCA_S}) // GREATEST((SELECT MAX(ABS(yv)) FROM y{k}), 1)
           AS xv
  FROM y{k}
)"""


_PCA_ROUND_SQL = ",\n".join(
    _pca_round_ctes(k) for k in range(1, _PCA_ROUNDS + 1)
)

# ---------------------------------------------------------------------------
# Rank-2 extension: deflation-free second component by per-round
# re-orthogonalization against the converged first direction
# ---------------------------------------------------------------------------

# Round counts for the rank-2 query. Shorter than the rank-1 query's
# 200 because DuckDB's max_expression_depth (default 1000) bounds the
# total unrolled-CTE chain: phase 1 costs 2 CTEs/round, phase 2 costs 4
# — 120+120 lands at ~750 with margin, and the planted-direction test
# shows both components converged to >0.999 correlation well before
# round 120.
_PCA2_P1_ROUNDS = 120
_PCA2_ROUNDS = 120
# Pre-dot rescale for the projection coefficient: y is divided by 4·S
# before dotting with v so the int64 worst case holds to n ≈ 3.7e5
# vectors (at plain S the bound crosses 2^63 at n ≈ 1.85e5 — the sf1
# embedding table is 2e5). Same constant on both engines.
_PCA2_PR_DIV = _PCA_S * 4


def embedding_pca_power2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-2 principal directions in the exact-hash lane — extends
    ``embedding_pca_power_exact``'s fixed-point power iteration with a
    second phase that re-orthogonalizes against the converged first
    direction EVERY round (deflating the matrix would need rational
    arithmetic; subtracting the truncated projection keeps everything
    int64 and the per-round truncation residual along v is knocked back
    down each round, so it never accumulates):

        y  = M·x                     (int64 matvec)
        c  = trunc(trunc(y/4S)·v) div trunc(v·v / 4S)  (projection coeff)
        o  = y − c·v                 (orthogonalized)
        x' = trunc(o/S)·S div max|trunc(o/S)|          (renormalize)

    The pre-dot ``/4S`` rescale keeps the projection dot product's
    worst case inside int64 up to n ≈ 3.7e5 vectors (a plain ``/S``
    crosses 2^63 at n ≈ 1.85e5 — under the sf1 table's 2e5) and
    ``o/S`` bounds the renormalization products. Every op
    is truncate-toward-zero int64 arithmetic (Spark ``div`` == DuckDB
    ``//``), so the 120+120-round sequence is bit-identical
    cross-engine; the oracle unrolls both phases as chained MATERIALIZED
    CTEs. Output: integer projections of every vector on both
    directions. With this, the float 8-component eigh
    (``embedding_pca_project``) is the only rows-only survivor and the
    top-2 subspace is gate-certified.

    Scale shape: identical to the rank-1 query after its r13 rework —
    per-row quantized arrays persisted once, in-row double-posexplode
    Gramian (no vec_id self-join) into the d² (i,j) groupBy, O(d²)
    driver iteration (400 rounds × 64² int ops), and a pure-map
    projection against the two parsed literal direction arrays (zero
    joins/exchanges in the final plan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow, d, m = _pca_scatter(emb)
    # phase 1: identical recurrence to embedding_pca_power_exact
    x = [_pca_x0(i) for i in range(d)]
    for _ in range(_PCA2_P1_ROUNDS):
        y = [sum(m[(i, j)] * x[j] for j in range(d)) for i in range(d)]
        mx = max(max(abs(v) for v in y), 1)
        x = [_tdiv(v * _PCA_S, mx) for v in y]
    v = x
    vvr = _tdiv(sum(t * t for t in v), _PCA2_PR_DIV)
    # phase 2: re-orthogonalized iteration from an independent start
    x2 = [_pca_x0(i + d) for i in range(d)]
    for _ in range(_PCA2_ROUNDS):
        y = [sum(m[(i, j)] * x2[j] for j in range(d)) for i in range(d)]
        pr = sum(_tdiv(y[i], _PCA2_PR_DIV) * v[i] for i in range(d))
        c = _tdiv(pr, vvr)
        orv = [_tdiv(y[i] - c * v[i], _PCA_S) for i in range(d)]
        mx = max(max(abs(t) for t in orv), 1)
        x2 = [_tdiv(t * _PCA_S, mx) for t in orv]
    v1arr = "array(" + ", ".join(f"{t}L" for t in v) + ")"
    v2arr = "array(" + ", ".join(f"{t}L" for t in x2) + ")"
    out = qrow.select(
        "vec_id",
        F.expr(
            f"CAST(aggregate(zip_with(qs, {v1arr}, (q, xv) -> q * xv), "
            f"0L, (acc, t) -> acc + t) AS BIGINT)"
        ).alias("pc1_raw"),
        F.expr(
            f"CAST(aggregate(zip_with(qs, {v2arr}, (q, xv) -> q * xv), "
            f"0L, (acc, t) -> acc + t) AS BIGINT)"
        ).alias("pc2_raw"),
    )
    return out


def _pca2_round_ctes(k: int) -> str:
    prev = f"w{k - 1}" if k > 1 else "w0"
    return f"""y2_{k} AS MATERIALIZED (
  SELECT m.i AS pos, CAST(SUM(m.mv * p.xv) AS BIGINT) AS yv
  FROM m JOIN {prev} p ON p.pos = m.j GROUP BY 1
),
c{k} AS MATERIALIZED (
  SELECT (SELECT CAST(SUM((y.yv // {_PCA2_PR_DIV}) * v.xv) AS BIGINT)
          FROM y2_{k} y JOIN vfin v ON v.pos = y.pos)
         // (SELECT CAST(SUM(xv * xv) AS BIGINT) // {_PCA2_PR_DIV} FROM vfin) AS c
),
o{k} AS MATERIALIZED (
  SELECT y.pos, (y.yv - (SELECT c FROM c{k}) * v.xv) // {_PCA_S} AS ov
  FROM y2_{k} y JOIN vfin v ON v.pos = y.pos
),
w{k} AS MATERIALIZED (
  SELECT pos,
         (ov * {_PCA_S}) // GREATEST((SELECT MAX(ABS(ov)) FROM o{k}), 1) AS xv
  FROM o{k}
)"""


_PCA2_ROUND_SQL = ",\n".join(
    _pca2_round_ctes(k) for k in range(1, _PCA2_ROUNDS + 1)
)

_PCA2_P1_ROUND_SQL = ",\n".join(
    _pca_round_ctes(k) for k in range(1, _PCA2_P1_ROUNDS + 1)
)

EMB_PCA_POWER_SQL = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, i - 1 AS pos,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_PCA_Q}) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, {_PCA_DIM + 1})) AS u(i)
),
sv AS (SELECT pos, CAST(SUM(q) AS BIGINT) AS s FROM ex GROUP BY pos),
gm AS (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
m AS MATERIALIZED (
  SELECT g.i, g.j,
         (CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) * g.g
          - si.s * sj.s) // {_PCA_D} AS mv
  FROM gm g JOIN sv si ON si.pos = g.i JOIN sv sj ON sj.pos = g.j
),
x0 AS (SELECT pos,
         CAST((1103515245 * (pos + 12345)) % (2 * {_PCA_S} + 1)
              - {_PCA_S} AS BIGINT) AS xv
       FROM sv),
{_PCA_ROUND_SQL}
SELECT e.vec_id, CAST(SUM(e.q * x.xv) AS BIGINT) AS pc1_raw
FROM ex e JOIN x{_PCA_ROUNDS} x ON x.pos = e.pos
GROUP BY e.vec_id
"""

EMB_PCA_POWER2_SQL = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, i - 1 AS pos,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_PCA_Q}) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, {_PCA_DIM + 1})) AS u(i)
),
sv AS (SELECT pos, CAST(SUM(q) AS BIGINT) AS s FROM ex GROUP BY pos),
gm AS (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
m AS MATERIALIZED (
  SELECT g.i, g.j,
         (CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) * g.g
          - si.s * sj.s) // {_PCA_D} AS mv
  FROM gm g JOIN sv si ON si.pos = g.i JOIN sv sj ON sj.pos = g.j
),
x0 AS (SELECT pos,
         CAST((1103515245 * (pos + 12345)) % (2 * {_PCA_S} + 1)
              - {_PCA_S} AS BIGINT) AS xv
       FROM sv),
{_PCA2_P1_ROUND_SQL},
vfin AS MATERIALIZED (SELECT pos, xv FROM x{_PCA2_P1_ROUNDS}),
w0 AS (SELECT pos,
         CAST((1103515245 * (pos + {_PCA_DIM} + 12345)) % (2 * {_PCA_S} + 1)
              - {_PCA_S} AS BIGINT) AS xv
       FROM sv),
{_PCA2_ROUND_SQL}
SELECT e.vec_id,
       CAST(SUM(e.q * v.xv) AS BIGINT) AS pc1_raw,
       CAST(SUM(e.q * w.xv) AS BIGINT) AS pc2_raw
FROM ex e
JOIN vfin v ON v.pos = e.pos
JOIN w{_PCA2_ROUNDS} w ON w.pos = e.pos
GROUP BY e.vec_id
"""


def int8_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval in the INT8-quantized domain (r10) — the
    memory-bound serving point between float brute force
    (`knn_brute_force`, 8 bytes/dim) and PQ-ADC (`pq_adc_topk`,
    1 byte per 8 dims): a GLOBAL affine codebook derived from two
    corpus scalars maps every component to floor((x−gmin)·255/span) ∈
    [0,255] (1 byte/dim persisted in a real index, 8× smaller than
    float64), and scoring is the exact INTEGER dot product of code
    vectors — order-free BIGINT summation, so scores and ranks are
    bit-identical cross-engine (the approximate-semantics-exact-oracle
    contract of `embedding_near_dups_ivf`: the oracle replicates the
    quantized scoring, recall vs float is a separate gate's job).

    Scale shape: the codebook is ONE tiny aggregate (2 scalars,
    metadata-grain driver transfer); codes are scan-side expressions
    (no shuffle to build the index); queries broadcast; per-partition
    top-k before the final window. floor of identically-specified IEEE
    doubles keeps codes exact on any engine."""
    e = load_table(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b = e.agg(
        F.min(F.array_min(vd)).alias("gmin"),
        F.max(F.array_max(vd)).alias("gmax"),
    ).first()
    gmin, span = float(b["gmin"]), float(b["gmax"]) - float(b["gmin"])
    if span == 0.0:
        # Degenerate domain: every component equal. The affine map would
        # divide by zero and emit null/NaN codes — silently empty top-k.
        # House loud-guard convention: refuse with the statistic quoted.
        raise RuntimeError(
            f"int8_dot_topk: degenerate embedding domain (gmin == gmax "
            f"== {gmin}); the global affine codebook is undefined — all "
            f"code vectors would collapse to a constant and the ranking "
            f"would be meaningless. Refusing rather than returning "
            f"garbage."
        )

    def codes(col: F.Column) -> F.Column:
        return F.transform(
            col,
            lambda x: F.floor(
                (x.cast("double") - F.lit(gmin)) * F.lit(255.0) / F.lit(span)
            ),
        )

    coded = e.select("vec_id", codes(F.col("embedding")).alias("q"))
    qs = coded.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    pairs = F.broadcast(qs).join(
        coded.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("cq")),
        F.col("query_id") != F.col("neighbor_id"),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            "score",
        )
    )


INT8_DOT_TOPK_SQL = """
WITH b AS (
  SELECT MIN(list_min(embedding::DOUBLE[])) AS gmin,
         MAX(list_max(embedding::DOUBLE[])) AS gmax
  FROM embeddings
),
coded AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor((x - gmin) * 255 / (gmax - gmin)) AS BIGINT)) AS q
  FROM embeddings, b
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT qz.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qz.q) + 1),
                                      i -> qz.q[i] * c.q[i])) AS BIGINT)
           AS score,
         ROW_NUMBER() OVER (
           PARTITION BY qz.vec_id
           ORDER BY list_sum(list_transform(range(1, len(qz.q) + 1),
                                            i -> qz.q[i] * c.q[i])) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM coded qz, coded c
  WHERE qz.vec_id < 10 AND qz.vec_id <> c.vec_id
) WHERE rank <= 5
"""
