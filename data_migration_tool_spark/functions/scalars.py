"""Scalar/aggregate expression builders (SURVEY §2.8, §2.4 A4).

Everything here returns Catalyst ``Column``s built from
``pyspark.sql.functions`` — JVM-side, codegen-friendly, no Python UDFs.

Determinism note (the engine's validation operators depend on it):
floating-point SUM/AVG are order-dependent under parallel execution, so
cross-engine (and even run-to-run) hash comparison of raw double
aggregates is unsound. ``dsum``/``davg`` aggregate through an exact
DECIMAL cast, which is associative/commutative, then surface a double.
The same expression shape is used in the DuckDB oracle SQL, so results
are bit-identical regardless of partitioning or engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Order-independent exact sum of a (money-like) double column.

    ``sum(cast(x as decimal(p,s)))`` is exact decimal arithmetic → the
    result is independent of partitioning/merge order, unlike double sum.
    Surfaced as double (cast is value-preserving for our magnitudes).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Order-independent average: exact decimal sum, single double divide."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")
        / F.count(c).cast("double")
    )


def safe_element_at(col: str | Column, index: int) -> Column:
    """BigQuery ``SPLIT(x,'.')[SAFE_OFFSET(n)]`` equivalent (SURVEY F1).

    ``try_element_at`` returns NULL instead of erroring past the end.
    ``index`` is 0-based to mirror SAFE_OFFSET.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_element_at(c, F.lit(index + 1))


def ordered_string_agg(
    value: str | Column,
    order_by: str | Column,
    sep: str = ",",
) -> Column:
    """``STRING_AGG(value ORDER BY order_by)`` as a grouped aggregate
    (SURVEY A4, reference constants.py:54-73).

    Implementation: collect ``struct(order, value)``, ``array_sort`` (a
    single-pass per-group sort, no extra shuffle), project ``.value``,
    join. Works inside ``groupBy(...).agg(...)``.
    """
    v = F.col(value) if isinstance(value, str) else value
    o = F.col(order_by) if isinstance(order_by, str) else order_by
    pairs = F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v"))))
    return F.array_join(F.transform(pairs, lambda s: s["v"]), sep)
