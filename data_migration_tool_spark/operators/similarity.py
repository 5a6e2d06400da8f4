"""Similarity search over embedding columns (``array<float>``).

Baseline is brute-force cosine top-k (exact); the scale path is IVF
partitioning (search only the nearest centroid's cell).

Execution design — **block mat-mul, not per-pair evaluation**:

The pairwise stage is always `small side × big side`. The small side
(queries / centroids / a verify-stage corpus) is collected to a numpy
matrix and broadcast; the big side streams through ``mapInPandas``
ONCE, each Arrow batch doing a single ``batch × smallᵀ`` BLAS product.
Costs at 100 TB: the big side crosses the JVM→Python boundary exactly
once (no per-pair row stream — a per-pair kernel ships |pairs|×dim
values; this ships |rows|×dim), and each batch emits only its local
top-k (or thresholded pairs), so the final global top-k shuffles
k×|queries| rows per partition, not |rows|×|queries|.

Numerics: accumulation uses numpy SIMD order, so similarities agree
with a sequential-accumulation oracle to float ulps, not bit-exact.
All operators here return ids/ranks (or threshold survivors), which
are stable under ulp noise except at exact decision boundaries.

The reference has no vector operators (SURVEY §2 — absent); these are
the training-data-pipeline extensions (ANN / near-dup) built on the
same engine.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_migration_tool_spark.partitioning import cached, scoped_loop, spread as _spread


MAX_BROADCAST_VECTORS = 262_144  # ~128 MB at 64 float64 dims


def _collect_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    audit=None,
    guard: str = "collect_matrix_broadcast_cap",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, matrix, norms) for the SMALL side of a pairwise op. The
    collect is the deliberate broadcast of the small operand (queries /
    centroids), not a driver-side loop over the data — guarded so a
    corpus passed by mistake fails LOUD instead of OOMing the driver.
    With ``audit`` the refusal also writes a ``dmt_guard_events`` row
    (same sink as the dedup/valve guards, ``audit/log.py:guard_event``)
    so guard engagements are queryable, not just log lines."""
    rows = df.select(id_col, vec_col).limit(MAX_BROADCAST_VECTORS + 1).collect()
    if len(rows) > MAX_BROADCAST_VECTORS:
        if audit is not None:
            from data_migration_tool_spark.audit.log import guard_event

            guard_event(
                audit,
                guard=guard,
                action="refuse",
                subject=f"{id_col}/{vec_col} broadcast side",
                implied_cost=len(rows),
                cap=MAX_BROADCAST_VECTORS,
                detail="broadcast operand exceeds the driver cap; use "
                "embedding_near_dup_pairs (block-pair) or "
                "embedding_near_dup_pairs_ivf (cell-bucketed)",
            )
        raise RuntimeError(
            f"_collect_matrix: >{MAX_BROADCAST_VECTORS:,} vectors on the "
            "broadcast side — this operand must be the SMALL side "
            "(queries / centroids). For corpus-scale pairwise work use "
            "embedding_near_dup_pairs (block-pair) or "
            "embedding_near_dup_pairs_ivf (cell-bucketed)."
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    return ids, mat, norms


def _batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
        mat = np.stack(pdf.iloc[:, 1].to_numpy()).astype(np.float64, copy=False)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        yield ids, mat, norms


_SIM_SCHEMA = "query_id long, neighbor_id long, sim double"
_PAIR_SCHEMA = "id_a long, id_b long, sim double"


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    audit=None,
) -> DataFrame:
    """Exact top-k by cosine. Queries (small) broadcast as a matrix;
    corpus streams once; per-batch local top-k then exact global top-k
    (top-k of per-partition top-ks). Output (query_id, neighbor_id,
    rank), ties broken by neighbor id."""
    q_ids, q_mat, q_norms = _collect_matrix(
        queries, id_col, vec_col, audit=audit, guard="brute_force_topk"
    )

    def score(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for c_ids, c_mat, c_norms in _batches(pdfs):
            sims = (c_mat @ q_mat.T) / np.outer(c_norms, q_norms)  # n×Q
            out = []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                mask = c_ids != q_ids[qi] if exclude_self else np.ones_like(col, bool)
                cand_sim, cand_ids = col[mask], c_ids[mask]
                if len(cand_ids) > k:
                    # local top-k in (sim DESC, id ASC) order — the same
                    # tie policy the global row_number window applies, so
                    # boundary ties survive pruning deterministically
                    order = np.lexsort((cand_ids, -cand_sim))[:k]
                    cand_sim, cand_ids = cand_sim[order], cand_ids[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": cand_ids,
                            "sim": cand_sim,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    local = (
        _spread(corpus, factor=1)
        .select(id_col, vec_col)
        .mapInPandas(score, _SIM_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    audit=None,
) -> DataFrame:
    """Hard-negative mining: for each query, the k most-similar corpus
    vectors whose ``label_col`` DIFFERS from the query's — the
    embedding-model training staple (contrastive/triplet losses want
    negatives that are hard, i.e. near the anchor, not random). Plain
    ``brute_force_topk`` + post-filter is NOT equivalent: a query with
    more than k same-label neighbors above the first negative would
    lose negatives it owes.

    Same execution shape as ``brute_force_topk`` (queries broadcast as
    a matrix with their labels; corpus streams once through the Arrow
    block-mat-mul scorer; the per-pair label mask is a numpy compare
    inside the batch, costing nothing over the unfiltered kernel; each
    batch emits its local top-k under the global (sim DESC, id ASC)
    tie policy, so the final window shuffles k×|queries| rows per
    partition). Output (query_id, neighbor_id, rank).
    """
    rows = (
        queries.select(id_col, vec_col, label_col)
        .limit(MAX_BROADCAST_VECTORS + 1)
        .collect()
    )
    if len(rows) > MAX_BROADCAST_VECTORS:
        raise RuntimeError(
            f"hard_negative_topk: >{MAX_BROADCAST_VECTORS:,} vectors on "
            "the broadcast (query) side — pass the SMALL side as queries"
        )
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    q_norms = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
    q_labels = np.array([r[2] for r in rows], dtype=np.int64)

    def score(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            c_ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf.iloc[:, 1].to_numpy()).astype(
                np.float64, copy=False
            )
            c_norms = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
            c_labels = pdf.iloc[:, 2].to_numpy(dtype=np.int64)
            sims = (c_mat @ q_mat.T) / np.outer(c_norms, q_norms)
            out = []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                mask = (c_labels != q_labels[qi]) & (c_ids != q_ids[qi])
                cand_sim, cand_ids = col[mask], c_ids[mask]
                if len(cand_ids) > k:
                    order = np.lexsort((cand_ids, -cand_sim))[:k]
                    cand_sim, cand_ids = cand_sim[order], cand_ids[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": cand_ids,
                            "sim": cand_sim,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    local = (
        _spread(corpus, factor=1)
        .select(id_col, vec_col, label_col)
        .mapInPandas(score, _SIM_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def collect_centroids(
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    audit=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect + id-sort the centroid table ONCE for a whole routing
    chain (r14, VERDICT r13 #5): ``ivf_assign`` and ``ivf_topk`` each
    used to re-collect the identical centroid frame — one sequential
    driver job per call in a chain that is job-scheduling-latency
    bound. Pass the returned tuple anywhere a ``centroids`` DataFrame
    is accepted."""
    cent_ids, cent_mat, cent_norms = _collect_matrix(
        centroids, id_col, vec_col, audit=audit, guard="ivf_assign"
    )
    # stable tie-break: order centroid columns by cell id
    order = np.argsort(cent_ids, kind="stable")
    return cent_ids[order], cent_mat[order], cent_norms[order]


def ivf_assign(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    audit=None,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` max-cosine centroids (the
    IVF cells), ties broken by cell id; one output row per (vector,
    cell). nprobe=1 is the index-build assignment; nprobe>1 is
    multi-probe routing (queries search their top-n cells, the standard
    IVF recall knob). Centroid matrix broadcast; corpus streams once.
    At scale, repartition the output by cell so each cell is
    co-located. ``centroids`` is a DataFrame or a pre-collected
    ``collect_centroids`` tuple (callers sharing one centroid table
    across a routing chain collect it once)."""
    cent_ids, cent_mat, cent_norms = (
        centroids
        if isinstance(centroids, tuple)
        else collect_centroids(centroids, id_col, vec_col, audit=audit)
    )
    nprobe = min(nprobe, len(cent_ids))

    vec_type = dict(corpus.dtypes)[vec_col]
    schema = f"{id_col} long, {vec_col} {vec_type}, cell_id long"

    def assign(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            sims = (mat @ cent_mat.T) / np.outer(norms, cent_norms)
            if nprobe == 1:
                best = np.argmax(sims, axis=1)[:, None]  # first max = smallest cell id
            else:
                # stable sort keeps ascending cell id among exact ties
                best = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            rep = np.repeat(np.arange(n), nprobe)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64)[rep],
                    vec_col: pdf[vec_col].to_numpy()[rep],
                    "cell_id": cent_ids[best.ravel()],
                }
            )

    return _spread(corpus, factor=1).select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_topk(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    audit=None,
) -> DataFrame:
    """ANN: route each query to its ``nprobe`` nearest cells, search
    only those. Approximate (recall < 1 when true neighbors live
    beyond the probed cells) — nprobe is the recall/cost knob: probed
    fraction of the corpus ≈ nprobe/n_cells. Queries grouped by cell
    and broadcast; the assigned corpus streams once, each batch scoring
    only the cells it contains. A (query, neighbor) pair is scored at
    most once because each corpus row lives in exactly one cell."""
    cent_ids, cent_mat, cent_norms = (
        centroids
        if isinstance(centroids, tuple)
        else collect_centroids(centroids, id_col, vec_col, audit=audit)
    )
    nprobe_eff = min(nprobe, len(cent_ids))
    # Deliberate broadcast of the small (query) side — same house guard
    # as _collect_matrix, on queries × nprobe (nprobe replicates each
    # query row), so a corpus passed as `queries` fails LOUD instead of
    # OOMing the driver. r14 (VERDICT r13 #5): the query-side cell
    # routing runs HERE on the collected rows with the identical numpy
    # kernel the executor path applies — the old shape collected the
    # distributed ``ivf_assign(queries, …)`` output, paying one more
    # sequential driver job (and a second centroid collect inside it)
    # in a chain that is job-scheduling-latency bound. The routing
    # table is O(queries·dim) driver state either way.
    q_cap = max(1, MAX_BROADCAST_VECTORS // max(nprobe_eff, 1))
    rows = (
        queries.select(id_col, vec_col).limit(q_cap + 1).collect()
    )
    if len(rows) * nprobe_eff > MAX_BROADCAST_VECTORS:
        if audit is not None:
            from data_migration_tool_spark.audit.log import guard_event

            guard_event(
                audit,
                guard="ivf_topk",
                action="refuse",
                subject=f"{id_col}/{vec_col} queries × nprobe broadcast",
                implied_cost=len(rows) * nprobe_eff,
                cap=MAX_BROADCAST_VECTORS,
                detail="query operand exceeds the driver broadcast cap; "
                "use embedding_near_dup_pairs (block-pair) or "
                "embedding_near_dup_pairs_ivf (cell-bucketed)",
            )
        raise RuntimeError(
            f"ivf_topk: queries × nprobe exceeds {MAX_BROADCAST_VECTORS:,} "
            "broadcast rows — the query operand must be the SMALL side. "
            "For corpus-scale pairwise work use embedding_near_dup_pairs "
            "(block-pair) or embedding_near_dup_pairs_ivf (cell-bucketed)."
        )
    by_cell: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    if rows:
        q_ids = np.array([r[0] for r in rows], dtype=np.int64)
        q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        q_norms = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
        # identical routing arithmetic to ivf_assign's executor kernel
        sims = (q_mat @ cent_mat.T) / np.outer(q_norms, cent_norms)
        if nprobe_eff == 1:
            best = np.argmax(sims, axis=1)[:, None]
        else:
            best = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe_eff]
        for qi in range(len(q_ids)):
            for cell in cent_ids[best[qi]]:
                ids, mats = by_cell.setdefault(int(cell), ([], []))
                ids.append(q_ids[qi])
                mats.append(q_mat[qi])
        for cell, (ids, mats) in list(by_cell.items()):
            m = np.stack(mats)
            by_cell[cell] = (
                np.array(ids, dtype=np.int64),
                m,
                np.sqrt(np.einsum("ij,ij->i", m, m)),
            )

    def score(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            out = []
            for cell, grp in pdf.groupby("cell_id"):
                if cell not in by_cell:
                    continue
                q_ids, q_mat, q_norms = by_cell[cell]
                c_ids = grp[id_col].to_numpy(dtype=np.int64)
                c_mat = np.stack(grp[vec_col].to_numpy()).astype(np.float64, copy=False)
                c_norms = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
                sims = (c_mat @ q_mat.T) / np.outer(c_norms, q_norms)
                for qi in range(len(q_ids)):
                    col, mask = sims[:, qi], c_ids != q_ids[qi]
                    cand_sim, cand_ids = col[mask], c_ids[mask]
                    if len(cand_ids) > k:
                        # (sim DESC, id ASC) — ties pruned the same way
                        # the global rank window breaks them
                        order = np.lexsort((cand_ids, -cand_sim))[:k]
                        cand_sim, cand_ids = cand_sim[order], cand_ids[order]
                    out.append(
                        pd.DataFrame(
                            {"query_id": q_ids[qi], "neighbor_id": cand_ids, "sim": cand_sim}
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    # no re-spread: corpus_assigned comes out of ivf_assign already at
    # cluster parallelism, and mapInPandas chains narrowly onto it —
    # assign→score run as ONE fused stage with no extra shuffle
    local = corpus_assigned.select(id_col, vec_col, "cell_id").mapInPandas(
        score, _SIM_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
    n_blocks: int | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine ≥ threshold — EXACT, fully
    distributed block-pair mat-mul; the corpus is never collected.

    The corpus hashes into B blocks; each of the B(B+1)/2 unordered
    block pairs becomes one task holding exactly two blocks (≤
    2×rows_per_block rows), compared with a single BLAS product. Every
    unordered row pair lives in exactly one block pair, so the union of
    task outputs IS the exact all-pairs result — same answer as a
    single-matrix compare, no recall loss.

    At 100 TB: exact all-pairs is inherently O(N²) compute; this shape
    distributes it with BOUNDED task memory (grow B with N, task size
    stays 2 blocks) at the cost of replicating each row B times — the
    standard exact-join triangle trade. When approximate recall is
    acceptable, bucket with ``ivf_assign(nprobe≥2)`` instead (see
    plans/vectorq.embedding_near_dups_ivf) and compare within cells
    only: replication nprobe×, compute |cell|² per cell."""
    if n_blocks is None:
        n_rows = df.count()
        n_blocks = max(1, -(-n_rows // rows_per_block))

    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
    # each row joins every block pair its block belongs to: (b, j) for
    # all j — pair keys canonicalized (lo, hi) so both blocks of a pair
    # land in the same shuffle group
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.least(F.col("__blk"), j).alias("lo"),
            F.greatest(F.col("__blk"), j).alias("hi"),
        ),
    )
    exploded = (
        df.select(id_col, vec_col)
        .withColumn("__blk", blk)
        .withColumn("__pair", F.explode(pairs))
        .select(
            F.col("__pair.lo").alias("__lo"),
            F.col("__pair.hi").alias("__hi"),
            "__blk",
            id_col,
            vec_col,
        )
    )

    _empty = pd.DataFrame(
        {
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "sim": pd.Series([], dtype="float64"),
        }
    )

    def compare(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = key
        # a block pair can arrive one-sided (hash skew, sparse ids, or
        # n_blocks > occupied blocks) — nothing to compare then
        a = pdf[pdf["__blk"] == lo]
        if len(a) == 0:
            return _empty
        a_ids = a[id_col].to_numpy(dtype=np.int64)
        a_mat = np.stack(a[vec_col].to_numpy()).astype(np.float64, copy=False)
        a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
        if lo == hi:
            b_ids, b_mat, b_norms = a_ids, a_mat, a_norms
        else:
            b = pdf[pdf["__blk"] == hi]
            if len(b) == 0:
                return _empty
            b_ids = b[id_col].to_numpy(dtype=np.int64)
            b_mat = np.stack(b[vec_col].to_numpy()).astype(np.float64, copy=False)
            b_norms = np.sqrt(np.einsum("ij,ij->i", b_mat, b_mat))
        sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
        # same-block: keep the strict upper triangle (each unordered
        # pair once); cross-block: keep everything, then canonicalize
        ai, bi = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :])) \
            if lo == hi else \
            np.nonzero((sims >= threshold) & (a_ids[:, None] != b_ids[None, :]))
        return pd.DataFrame(
            {
                "id_a": np.minimum(a_ids[ai], b_ids[bi]),
                "id_b": np.maximum(a_ids[ai], b_ids[bi]),
                "sim": sims[ai, bi],
            }
        )

    return (
        exploded.groupBy("__lo", "__hi")
        .applyInPandas(compare, _PAIR_SCHEMA)
        .select("id_a", "id_b")
    )


def embedding_near_dup_pairs_ivf(
    df: DataFrame,
    threshold: float,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Near-dup pairs via IVF bucketing — the sub-quadratic scale path.
    Every vector replicates to its ``nprobe`` nearest cells; pairs are
    compared ONLY within a cell, then deduped (a pair can co-occur in
    up to nprobe shared cells). Precision is exact (every emitted pair
    really clears the threshold); recall < 1 exactly when a qualifying
    pair shares no probed cell — raise nprobe to trade compute for
    recall.

    At 100 TB: compute is Σ|cell|² instead of N², data moves nprobe×N
    rows through one shuffle on cell_id, and each cell compares locally
    — the same contract as MinHash-LSH banding for text (dedup.py)."""
    assigned = ivf_assign(df, centroids, id_col, vec_col, nprobe=nprobe)

    def compare(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bi], "sim": sims[ai, bi]})

    return (
        assigned.groupBy("cell_id")
        .applyInPandas(compare, _PAIR_SCHEMA)
        .select("id_a", "id_b")
        .distinct()
    )


_KMEANS_SCALE = 1_048_576.0  # 2^20
_KMEANS_OFFSET = 2.0  # shifts [-1, 1]-ish coords non-negative (trunc == floor)


def quantize_vec(vec_col) -> F.Column:
    """array<long> fixed-point view of an embedding:
    floor((x + 2) · 2^20) per coordinate.

    Both steps are IEEE-deterministic (float32 → double is exact, the
    add and the power-of-two multiply are single correctly-rounded
    ops), so any engine produces the identical integers — the basis of
    the exact k-means lane. The +2 offset keeps every value
    non-negative so truncating and flooring division agree across
    engines; distances are translation-invariant, so the offset never
    affects an argmin.

    The lane's int64 contract holds only on the quantization DOMAIN
    [-2, 2]: below it q goes negative (trunc and floor division
    disagree → cross-engine divergence), far above it squared diffs
    wrap int64. Enforced per coordinate with ``assert_true`` — an
    expression inside the same codegen stage, so the guard costs two
    comparisons per value and NO extra scan; an out-of-domain
    embedding fails the job loudly instead of corrupting the exact
    lane (VERDICT r8 ask #6, the k-means analogue of the PCA scatter
    guard)."""
    return F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: F.floor(
            (x.cast("double") + F.lit(_KMEANS_OFFSET)) * F.lit(_KMEANS_SCALE)
        ).cast("long")
        + F.coalesce(
            F.assert_true(
                (x >= F.lit(-_KMEANS_OFFSET)) & (x <= F.lit(_KMEANS_OFFSET)),
                F.lit(
                    "quantize_vec: coordinate outside [-2, 2] — the "
                    "fixed-point lane's int64/trunc==floor contract "
                    "breaks; rescale the embedding or widen the offset"
                ),
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
    )


def _int_dist_sq(a, b) -> F.Column:
    """Σ (a_i − b_i)² over two array<long> — exact int64 (quantized
    coords are < 2²², so 64 squared diffs stay < 2⁵⁰)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _cents_literal(cents_rows: list[tuple[int, list[int]]]) -> F.Column:
    """The k×dim centroid table as ONE parsed ``array<struct<cell,cq>>``
    literal (r13: the PQ-codebook trick — a single ``F.expr`` parse
    instead of k·dim py4j ``F.lit`` round trips)."""
    rows = ",".join(
        "named_struct('cell',{},'cq',array({}))".format(
            int(c), ",".join(f"{int(v)}L" for v in q)
        )
        for c, q in cents_rows
    )
    return F.expr(f"array({rows})")


def _assign_min_struct(cents_rows: list[tuple[int, list[int]]]) -> F.Column:
    """In-row argmin over the centroid literal: ``struct(d, cell)`` is
    ordered field-by-field, so ``array_min`` IS ``ORDER BY d, cell
    LIMIT 1`` — ties to the lowest cell id, same contract as the old
    window form."""
    return F.array_min(
        F.transform(
            _cents_literal(cents_rows),
            lambda c: F.struct(
                _int_dist_sq(F.col("q"), c["cq"]).alias("d"),
                c["cell"].alias("cell"),
            ),
        )
    )


def _assign_exact(qv: DataFrame, cents) -> DataFrame:
    """Nearest centroid by integer squared-L2, ties to the lowest cell
    id. Centroids are k rows BY CONTRACT, so they ride into the plan as
    a collected in-row literal (r13; was broadcast-crossJoin + a
    row_number window): the k-way compare and the argmin both happen
    inside one projection — no broadcast exchange, no corpus shuffle,
    no window sort. Driver transfer is O(k·dim) integers. ``cents`` is
    a DataFrame or a ``[(cell, [q…]), …]`` driver list (r14: a trained
    k-means result is ALREADY driver state — round-tripping it through
    createDataFrame → collect cost one more sequential job in the
    routing chain)."""
    rows = (
        cents
        if isinstance(cents, list)
        else [(r["cell"], list(r["q"])) for r in cents.collect()]
    )
    best = _assign_min_struct(rows).alias("__best")
    return qv.select("vec_id", "q", best).select(
        "vec_id",
        "q",
        F.col("__best.cell").alias("cell"),
        F.col("__best.d").alias("dist_sq"),
    )


def kmeans_fit_exact(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    as_rows: bool = False,
):
    """Lloyd's k-means carried ENTIRELY in fixed-point integers —
    deterministic AND bit-identical cross-engine, which is what lets
    the trained-IVF query live in the exact-hash oracle lane (classic
    float k-means sums coordinates in partition order; its centroids
    are run-stable only per engine).

    Semantics: coordinates quantize to floor((x+2)·2^20); init = the k
    corpus rows with the smallest md5(id) (a reproducible pseudo-random
    sample, no RNG state); assignment = integer squared-L2, ties to the
    lowest cell; update = per-dimension floor-average (Σ div n — exact
    sums, so order-independent); empty cells keep their previous
    centroid. Returns (cell, q array<long>).

    Scale shape: iters × (one corpus scan with an in-row k-way compare
    + one (cell × dim)-grain shuffle). The centroids live on the DRIVER
    between rounds (k·dim integers — the same O(round-result) transfer
    as BPE's per-round argmax), so each round is ONE job whose only
    exchanges are the (cell × dim)-grain means. The quantized corpus is
    cached for the loop's span (iters scans of cache instead of iters
    parquet+quantize passes); shuffles are scoped to the state grain
    (cell × dim rows), not the session default. At 100 TB, fit on a
    hash-sampled fraction (``doc_hash_sample`` pattern) and assign the
    full corpus once."""
    spark = corpus.sparkSession
    qv = corpus.select(id_col, quantize_vec(vec_col).alias("q")).withColumnRenamed(
        id_col, "vec_id"
    )
    with cached(qv):
        # static plans inside the pinned-partition loop (``scoped_loop``):
        # the round plan is fully known (centroids are in-row literals,
        # shuffles pinned to the cell×dim state grain), so AQE only adds
        # per-exchange stage-jobs and re-planning to each Lloyd round's
        # collect
        with scoped_loop(spark, 8):
            init = (
                qv.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
                .orderBy("__h")
                .limit(k)
                .withColumn(
                    "cell", F.row_number().over(Window.orderBy("__h")) - 1
                )
                .select("cell", "q")
                .collect()
            )
            cents = [(r["cell"], list(r["q"])) for r in init]
            for _ in range(iters):
                nc = (
                    qv.select(
                        _assign_min_struct(cents)["cell"].alias("cell"), "q"
                    )
                    .select("cell", F.posexplode("q").alias("pos", "x"))
                    .groupBy("cell", "pos")
                    .agg(F.expr("sum(x) div count(x)").alias("m"))
                    .groupBy("cell")
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "m"))
                        ).alias("p")
                    )
                    .select(
                        "cell", F.transform("p", lambda s: s["m"]).alias("q")
                    )
                    .collect()
                )
                # empty cells keep their previous centroid
                newmap = {r["cell"]: list(r["q"]) for r in nc}
                cents = [(c, newmap.get(c, q)) for c, q in cents]
    # as_rows: the centroids ARE driver state between rounds — return
    # them as-is for callers feeding _assign_exact/ivf_exact_topk (skips
    # a createDataFrame → collect round trip per chain); the
    # DataFrame form stays the default public contract.
    if as_rows:
        return [(c, list(q)) for c, q in cents]
    return spark.createDataFrame(
        [(c, q) for c, q in cents], "cell INT, q ARRAY<BIGINT>"
    )


def ivf_exact_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cents,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search in the exact-integer lane: each query probes only its
    own cell (nprobe=1) and ranks candidates by integer squared-L2 on
    the quantized coordinates, ties to the lower candidate id. Same
    cell-join shape as ``ivf_topk``; every value is an int64, so the
    full result table hash-matches a SQL twin."""
    qv = corpus.select(id_col, quantize_vec(vec_col).alias("q")).withColumnRenamed(
        id_col, "vec_id"
    )
    # The lazy checkpoint is a materialization barrier (r13): ``assigned``
    # feeds BOTH join sides, and the in-row argmin would otherwise be
    # re-inlined into each side's project AND the join's inferred
    # isnotnull filters — 4 evaluations of the k×dim scan per corpus
    # row. Checkpointed, the assignment computes once (same bytes the
    # old row_number window shuffled, now stored instead of sorted).
    assigned = (
        _assign_exact(qv, cents)
        .select("vec_id", "q", "cell")
        .localCheckpoint(eager=False)
    )
    qs = queries.select(F.col(id_col).alias("query_id")).join(
        assigned.select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("cell").alias("qcell"),
        ),
        "query_id",
    )
    cand = qs.join(
        assigned.select(
            F.col("cell").alias("qcell"),
            F.col("vec_id").alias("cand_id"),
            F.col("q").alias("cq"),
        ),
        "qcell",
    ).filter(F.col("cand_id") != F.col("query_id"))
    scored = cand.withColumn("dist_sq", _int_dist_sq(F.col("qq"), F.col("cq")))
    w = Window.partitionBy("query_id").orderBy("dist_sq", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("vec_id"), "dist_sq", "rank")
    )


# Sign-LSH bucket-width derivation: the bucket join costs Σ bucket², so
# at fixed width occupancy (and with it pair volume) grows super-
# linearly with the corpus. The width is therefore DERIVED from the
# corpus size — smallest p in [LSH_MIN_BITS, LSH_MAX_BITS] with
# n <= LSH_TARGET_OCCUPANCY * 2**p — keeping expected occupancy (and the
# per-bucket quadratic term) constant as the corpus grows. Because the
# md5-keyed sign matrix makes bit b independent of the total width and
# bucket bits pack as 1 << b, the p-bit bucket is exactly the
# LSH_MAX_BITS-bit bucket masked to its low p bits: one static bucket
# expression serves every width, and the data-dependent part is a single
# broadcast scalar mask. Thresholds are pure integers so Spark's WHEN
# chain and a SQL CASE chain derive bit-identical widths (no float log2).
LSH_MIN_BITS = 4
LSH_MAX_BITS = 16
LSH_TARGET_OCCUPANCY = 64


def lsh_mask_ladder() -> list[tuple[int, int]]:
    """``(max_n, mask)`` steps for the width derivation above; the
    final fallback mask (corpora beyond the last threshold) is
    ``(1 << LSH_MAX_BITS) - 1``."""
    return [
        (LSH_TARGET_OCCUPANCY << p, (1 << p) - 1)
        for p in range(LSH_MIN_BITS, LSH_MAX_BITS)
    ]


def bucket_sizes(bucketed: DataFrame, bucket_col: str) -> DataFrame:
    """Annotate every row with its bucket's member count (``__bsz``) —
    one window count over the bucket key, no extra scan. The primitive
    under the hot-bucket valve: callers route on the count (keep ≤ cap
    for the pairwise join, send > cap through exact dedup)."""
    w = Window.partitionBy(bucket_col)
    return bucketed.withColumn("__bsz", F.count(F.lit(1)).over(w))


def cap_bucket_size(
    bucketed: DataFrame,
    bucket_col: str,
    max_bucket_size: int,
    audit=None,
    context: str = "",
) -> DataFrame:
    """Skew valve for any bucket self-join: drop buckets larger than
    the bound BEFORE the join — a bucket of B rows costs B² in one
    task, so one adversarially hot bucket (mass-duplicated boilerplate,
    a zero vector repeated corpus-wide) would pin a single executor
    regardless of how well the width derivation sizes the TYPICAL
    bucket. Members of a dropped bucket are near-certain exact dups —
    route them through the exact hash-groupBy dedup instead of pairwise
    verification (the full drop-and-reroute protocol is oracle-pinned
    by the ``emb_lsh_hot_bucket_dedup`` registry query).

    ``audit``: optional :class:`~data_migration_tool_spark.audit.log.
    AuditLog` — when given, every engaged drop leaves a
    ``dmt_guard_events`` row (guard skips must be observable, the
    reference's 16 TB-guard pattern, hive_bq_load_utils.py:154-173);
    costs one extra bucket-histogram aggregate, so it is opt-in."""
    sized = bucket_sizes(bucketed, bucket_col)
    if audit is not None:
        hot = (
            bucketed.groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
                F.coalesce(F.sum(F.col("n") * F.col("n")), F.lit(0)).alias(
                    "pair_cost"
                ),
            )
            .collect()[0]
        )
        if hot["n_buckets"]:
            from data_migration_tool_spark.audit.log import guard_event

            guard_event(
                audit,
                guard="cap_bucket_size",
                action="reroute",
                subject=context or bucket_col,
                implied_cost=int(hot["pair_cost"]),
                cap=int(max_bucket_size),
                detail=(
                    f"{hot['n_buckets']} bucket(s) over the cap "
                    f"({hot['n_rows']} rows) dropped from the pairwise "
                    f"join; route members through exact dedup"
                ),
            )
    return sized.filter(F.col("__bsz") <= max_bucket_size).drop("__bsz")


def hyperplane_signs(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix (md5-derived) — the random
    projections of sign-LSH, reproducible bit-for-bit in any engine or
    language so SQL oracles can embed the identical literal."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"hp_{b}_{j}".encode()).digest()[0] % 2 == 0 else -1
            for j in range(dim)
        ]
        for b in range(n_bits)
    ]


def hyperplane_lsh_bucket(vec_col, signs: list[list[int]]):
    """Sign-LSH bucket id: bit b = (v · hyperplane_b >= 0), packed into
    a bigint. Cosine-similar vectors agree on most hyperplane sides, so
    they collide with high probability — the bucket is the join key for
    the LSH flavor of sub-quadratic ANN (the angle-family complement of
    the IVF cell path). Pure per-row Catalyst expression: dots are
    sequential double aggregates (bit-identical to the SQL oracle's
    list_sum over the same literal), no shuffle, no UDF."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from data_migration_tool_spark.functions.text import bind

    vd = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )

    def bucket_of(v):
        total = F.lit(0).cast("bigint")
        for b, row in enumerate(signs):
            # one parsed literal per hyperplane instead of one py4j
            # round trip per coordinate (r13 — n_bits × dim F.lit
            # calls cost ~1 s of driver time per plan BUILD; repr()
            # round-trips ±1.0 exactly, D pins DOUBLE)
            arr = F.expr(
                "array(" + ",".join(repr(float(s)) + "D" for s in row) + ")"
            )
            dot = F.aggregate(
                F.zip_with(v, arr, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            total = total + F.when(dot >= 0, F.lit(1 << b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        return total

    return bind(vd, bucket_of)
