"""Deterministic, NULL-safe row hashing (SURVEY A7, §7.4).

DVT row validation hashes the concatenation of columns; ``concat_ws``
silently drops NULLs, so ``(NULL,'a')`` and ``('a',NULL)`` would collide.
We coalesce each column to an explicit sentinel and join with a unit
separator. Numeric columns are cast to a canonical string form first
(double formatting differs across engines).

The concat is rendered as ONE SQL expression string and parsed by a
single ``F.expr`` call: building it from Column objects costs several
py4j calls per column (about 40 per side of a 9-column row validation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_SENTINEL = "␀"  # SYMBOL FOR NULL — cannot collide with data
SEP = "␟"  # SYMBOL FOR UNIT SEPARATOR


def quote_name(name: str) -> str:
    """``name`` as a SQL identifier: backticked, inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def canonical_sql(name: str, dtype: T.DataType) -> str:
    """SQL for the engine-portable string rendering of column ``name``.

    Doubles → decimal(30,6) first (fixed-point text, no scientific
    notation, same in Spark and DuckDB); timestamps → ISO micros;
    everything else → plain cast.
    """
    c = quote_name(name)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return f"CAST(CAST({c} AS DECIMAL(30,6)) AS STRING)"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return f"date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    if isinstance(dtype, T.DateType):
        return f"date_format({c}, 'yyyy-MM-dd')"
    return f"CAST({c} AS STRING)"


def null_safe_concat_sql(df: DataFrame, cols: list[str] | None = None) -> str:
    """SQL for the NULL-safe, type-canonical concatenation of ``cols``
    (default all) of ``df``, in the given order."""
    names = cols or df.columns
    by_name = {f.name: f.dataType for f in df.schema.fields}
    parts = ", ".join(
        f"coalesce({canonical_sql(c, by_name[c])}, '{NULL_SENTINEL}')" for c in names
    )
    return f"concat_ws('{SEP}', {parts})"


def md5_int32(col: Column, salt: int | None = None) -> Column:
    """Portable 32-bit integer hash: first 8 hex chars of md5 → bigint.

    Slower than xxhash/murmur but identical in every engine that has
    md5 — the property the dedup/minhash operators need for oracle
    parity. ``salt`` prefixes the input (family of hash functions)."""
    if salt is not None:
        col = F.concat(F.lit(f"{salt}:"), col)
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def null_safe_concat(df: DataFrame, cols: list[str] | None = None) -> Column:
    """NULL-safe, type-canonical concatenation of ``cols`` (default all)."""
    return F.expr(null_safe_concat_sql(df, cols))


def row_md5(df: DataFrame, cols: list[str] | None = None) -> Column:
    """MD5 over the null-safe concat — the row-validation hash (A7)."""
    return F.expr(f"md5({null_safe_concat_sql(df, cols)})")
