"""Vector (embedding) expressions over ``array<float>`` columns.

All JVM-side via higher-order functions (``zip_with`` + ``aggregate``) —
no Python in the hot path. Products/accumulation happen in double with a
fixed left-to-right order starting at 0.0, so results are deterministic
and match a DuckDB oracle computing
``list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])`` bit-for-bit.

(Measured note: an unrolled ``element_at`` chain for a known dim is ~10×
SLOWER than the HOF form here — the 64-term expression falls out of
whole-stage codegen and pays per-element interpreted dispatch, while the
HOF loop runs tight over the array. Don't "optimize" back to it.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: str | Column, b: str | Column) -> Column:
    """Sequential-order dot product in double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def int8_quantize_stats(vec: str | Column) -> Column:
    """Per-vector int8 scalar quantization summary: each component maps
    to ``floor((x - min) * 255 / (max - min))`` ∈ [0, 255] (the affine
    int8 codebook used for ANN index compression); a constant vector
    maps to all-zeros. Returns a struct of integer-exact stats
    (n_dims, q_sum, q_min, q_max) plus the codebook range rounded to 6.

    floor (not round) keeps the mapping unambiguous across engines —
    IEEE +,-,*,/ are exactly specified, so identical inputs give
    bit-identical codes in Spark and any SQL oracle. All integer
    outputs thereafter are exact. Pure per-row expression: scan-side,
    no shuffle, prunes to the one vector column."""
    from data_migration_tool_spark.functions.text import bind

    vd = F.transform(_c(vec), lambda x: x.cast("double"))

    def of_bound(s: Column) -> Column:
        v = s.getField("v")
        mn = s.getField("mn")
        span = s.getField("mx") - s.getField("mn")
        qs = F.when(
            span > F.lit(0.0),
            F.transform(v, lambda x: F.floor((x - mn) * F.lit(255.0) / span)),
        ).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))
        return bind(
            qs,
            lambda q: F.struct(
                F.size(q).alias("n_dims"),
                F.aggregate(
                    q, F.lit(0).cast("bigint"), lambda acc, x: acc + x
                ).alias("q_sum"),
                F.array_min(q).cast("int").alias("q_min"),
                F.array_max(q).cast("int").alias("q_max"),
                F.round(mn, 6).alias("v_min"),
                F.round(s.getField("mx"), 6).alias("v_max"),
            ),
        )

    return bind(
        bind(
            vd,
            lambda v: F.struct(
                v.alias("v"),
                F.array_min(v).alias("mn"),
                F.array_max(v).alias("mx"),
            ),
        ),
        of_bound,
    )
