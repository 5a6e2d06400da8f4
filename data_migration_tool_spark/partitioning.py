"""Partition-layout helpers.

A small parquet input arrives as ONE partition, and every map-side-heavy
pipeline stage (explode, pairwise join's streamed side, per-row hashing)
inherits that parallelism until the first shuffle. ``spread`` round-robin
repartitions such inputs up to cluster parallelism; on genuinely large
inputs (≥ target partitions already) it is a no-op, so the 100 TB plan
is unchanged while the small-file plan actually uses the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Repartition to ``factor × defaultParallelism`` iff the input has
    fewer partitions than the cluster has slots."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


from contextlib import contextmanager


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


def scoped_shuffle_partitions(spark, n: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` (``scoped_conf``).

    For ITERATIVE operators whose loop state is dimension-scale (a
    parts catalog's ranks, a vocabulary's counts): the loop's per-round
    shuffles should be sized to the STATE, not to the session default
    that fact-scale scans want — 20 rounds x (default - needed)
    partitions is pure scheduling overhead. Callers must scope ONLY the
    loop (materialize fact-scale inputs before entering), and only when
    they can argue the state is small; results must be
    partition-count-independent (the exact-integer lanes are)."""
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


def scoped_static_plans(spark):
    """Temporarily disable adaptive query execution (``scoped_conf``).

    For ITERATIVE operators whose per-round plan shape is FULLY KNOWN
    (broadcast hint explicit, shuffle partitions pinned to the state
    grain by ``scoped_shuffle_partitions``): AQE's value is runtime
    re-planning, but inside such a loop there is nothing left to
    re-plan, and its cost is real — every exchange materializes as its
    own stage-job plus a re-optimization round, multiplying the
    driver-scheduled job count (the exact PageRank loop ran 36 jobs
    with AQE vs 16 without, 4.5 s vs 3.7 s at sf0.1, identical
    fixed-point results). Scope ONLY loop execution whose results are
    plan-independent; leave fact-scale scans (which want AQE
    coalescing/skew handling) outside."""
    return scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"})
