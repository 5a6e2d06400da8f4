"""Z-order (Morton) clustering for multi-column file skipping.

Single-column sort bounds ONE column's min/max per file; a filter on
any other column still reads every file. Interleaving the bits of
several columns into one sort key bounds EVERY interleaved column's
extent per file (each of N range-partitioned files covers ~N^(-1/k) of
each of the k dimensions), so parquet footer min/max pruning works for
filters on any of them — the plain-parquet form of what Delta OPTIMIZE
ZORDER / clustering keys do (reference scope: the clustering-fields
metadata of hive_bq_load_utils.py:184-192 taken seriously at layout
time).

The key is pure Catalyst bit arithmetic (unrolled shifts/ors — no UDF,
fuses into the write projection); normalization to the bit range uses
one global min/max aggregate broadcast back as a 1-row cross join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of the given non-negative
    integer columns into one Morton key. ``bits × len(cols)`` must fit
    in 63 bits."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError("bits × columns must fit in a long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_by(
    df: DataFrame, cols: Sequence[str], bits: int = 8, out: str = "z"
) -> DataFrame:
    """Attach the Morton key of ``cols`` (integer-valued columns) as
    ``out``: one 1-row bounds aggregate broadcast back, then each
    column min-max scales to ``bits`` with EXACT integer arithmetic
    (SQL ``div`` — float division + floor can be off-by-one near bucket
    boundaries once products pass 2^53, and is not engine-portable)."""
    top = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("long")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("long")).alias(f"{c}__mx"),
        ]
    joined = df.crossJoin(F.broadcast(df.agg(*aggs)))
    for c in cols:
        num = (F.col(c).cast("long") - F.col(f"{c}__mn")) * F.lit(top)
        span = F.col(f"{c}__mx") - F.col(f"{c}__mn")
        joined = joined.withColumn(f"{c}__num", num).withColumn(
            f"{c}__span", span
        )
    ranks = [F.expr(f"`{c}__num` div greatest(`{c}__span`, 1L)") for c in cols]
    drop = [
        p.format(c=c)
        for c in cols
        for p in ("{c}__mn", "{c}__mx", "{c}__num", "{c}__span")
    ]
    return joined.withColumn(out, zorder_key(ranks, bits)).drop(*drop)
