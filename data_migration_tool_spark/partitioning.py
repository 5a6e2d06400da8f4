"""Partition-layout helpers.

A small parquet input arrives as ONE partition, and every map-side-heavy
pipeline stage (explode, pairwise join's streamed side, per-row hashing)
inherits that parallelism until the first shuffle. ``spread`` round-robin
repartitions such inputs up to cluster parallelism; on genuinely large
inputs (≥ target partitions already) it is a no-op, so the 100 TB plan
is unchanged while the small-file plan actually uses the cluster.

The session-conf scopes (``scoped_conf``, ``scoped_loop``), the cache
scope (``cached``) and the overlap-jobs helper (``par_jobs``) live here
too.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Repartition to ``factor × defaultParallelism`` iff the input has
    fewer partitions than the cluster has slots."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


@contextmanager
def scoped_conf(spark, conf: dict[str, str]):
    """Set session SQL conf for the block, then put each key back as it
    was: its old value, or unset if the session never set it. Restoring
    an unset key by ``get``/``set`` would pin the current default into a
    session that never chose it, such as a fresh SparkSession built
    without ``session.py``'s defaults."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def scoped_loop(spark, partitions: int | None):
    """Pin an iterative loop's shuffles to ``partitions`` and turn
    adaptive query execution off for the block (``scoped_conf``); a
    falsy count leaves the session as it is.

    For loops whose state is dimension-scale (a parts catalog's ranks,
    a vocabulary's counts, candidate pairs) and whose per-round plan is
    fully known (broadcast hints explicit, partitions pinned to the
    state grain): the session default that fact-scale scans want makes
    every round pay for (default - needed) empty partitions, and AQE
    has nothing left to re-plan but still materializes every exchange
    as its own stage-job plus a re-optimization pass. The exact
    PageRank loop ran 36 jobs with AQE against 16 without (4.5 s
    against 3.7 s at sf0.1, identical fixed-point results). Callers
    materialize fact-scale inputs before entering, so their scans keep
    AQE's coalescing and skew handling, and scope only loops whose
    results are partition-count- and plan-independent."""
    conf = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": "false",
    }
    return scoped_conf(spark, conf if partitions else {})


@contextmanager
def cached(*frames: DataFrame):
    """Persist ``frames`` in argument order for the block, yield them
    (one frame, or a tuple of several), and unpersist them on every exit:
    return, raise and refusal alike. This is the package's only
    ``persist``/``unpersist`` site.

    Invariant: every cache is consumed before it is released. A frame
    that outlives the block must be materialized inside it, by
    ``localCheckpoint(eager=True)`` or a collect. A lazy frame returned
    from the block would recompute its cached inputs on every action,
    and a cache left behind has no reachable ``unpersist`` and pins its
    blocks for the rest of the session.

    A frame the caller passed in stays the caller's: put only frames
    this scope's owner built into the scope."""
    held = []
    try:
        for f in frames:
            held.append(f.persist())
        yield held[0] if len(held) == 1 else tuple(held)
    finally:
        for f in held:
            f.unpersist()


# Threads ``par_jobs`` starts at most: the catalog walk hands it one thunk
# per table, and a database of thousands of tables must not start
# thousands of threads.
PAR_JOBS_MAX = 8


def par_jobs(*thunks, max_workers: int = PAR_JOBS_MAX) -> list:
    """Run independent driver actions concurrently, on a pool of at most
    ``min(max_workers, PAR_JOBS_MAX)`` threads. Spark's scheduler runs
    several jobs at once, so independent outputs of one source (setup
    writes, probe counts over the same caches, per-table catalog
    commands) back-fill each other's task tails instead of leaving
    executors idle between sequential jobs. Results in thunk order;
    exceptions propagate."""
    if not thunks:
        return []
    workers = min(len(thunks), max_workers, PAR_JOBS_MAX)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]
