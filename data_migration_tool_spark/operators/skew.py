"""Skew-mitigation operators (prompt-mandated scale path).

AQE's skew-join splitting handles most runtime skew automatically
(session.py enables it), but a **low-cardinality aggregation** still
needs explicit salting at 100 TB: ``groupBy(k)`` with a handful of
distinct keys puts each key's entire partial state behind one reducer.
Partial aggregation usually saves this — unless the aggregate is
high-fanout per group (``collect_list``, exact ``countDistinct``
rewrites) where the reduce side still receives per-row state.
``salted_agg`` splits each group ``n_salts`` ways, aggregates, then
merges — two small shuffles instead of one monster reducer. For a
hot-key join, AQE's skew-join split on a shuffle join is the tool.

The rewrite is a *plan rewrite with identical semantics* — results are
checked equal to the unsalted plan in tests and (for the registry
query) against the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Uniform random salt in [0, n_salts). Salt only decides placement,
    never results, so nondeterminism here is harmless."""
    return df.withColumn(SALT_COL, (F.rand() * n_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    merge_aggs: Sequence[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation: groupBy(keys + salt) with ``partial_aggs``,
    then groupBy(keys) with ``merge_aggs`` over the partial columns.

    The caller supplies the decomposition (sum→sum of sums, count→sum of
    counts, min→min of mins, ...) — the algebraic part of an aggregate,
    exactly what Spark's own partial aggregation does, lifted to a place
    where the first shuffle's key space is ``|keys| × n_salts``.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)
