"""Table loading & registration.

The reference's unit of work is the schema-qualified table backed by files
on object storage (SURVEY §1.1); here a table is a parquet directory/file
under a scale-factor dir, registered as a temp view so both the DataFrame
API and ``spark.sql`` can reach it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


class _Unmapped(Exception):
    """A footer holds a type the mapping below does not cover."""


def _first_part_file(path: str) -> str | None:
    """The file whose footer stands for ``path``: the path itself, or a
    directory's first part file (one writer produced the directory, so
    part schemas agree). None for a layout Spark would read differently
    than one part file says: partition subdirectories, no ``.parquet``
    part, or a URI that is not a local path."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    names = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
    if any(os.path.isdir(os.path.join(path, n)) for n in names):
        return None
    parts = sorted(n for n in names if n.endswith(".parquet"))
    return os.path.join(path, parts[0]) if parts else None


def _nullable(dt: T.DataType) -> T.DataType:
    """``DataType.asNullable``: Spark reads every file field as nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


_PLAIN_TYPES = {
    "BOOLEAN": T.BooleanType,
    "INT32": T.IntegerType,
    "INT64": T.LongType,
    "FLOAT": T.FloatType,
    "DOUBLE": T.DoubleType,
    "FIXED_LEN_BYTE_ARRAY": T.BinaryType,
}
_INT_TYPES = {
    (8, True): T.ByteType(),
    (16, True): T.ShortType(),
    (32, True): T.IntegerType(),
    (64, True): T.LongType(),
    (8, False): T.ShortType(),
    (16, False): T.IntegerType(),
    (32, False): T.LongType(),
    (64, False): T.DecimalType(20, 0),
}


def _leaf_type(col, conf) -> T.DataType:
    """Spark's type for one parquet leaf column: its
    ParquetToSparkSchemaConverter rules for the physical and logical
    types. The PARQUET type decides, not the Arrow one: Arrow surfaces
    INT96 as timestamp[ns] too, and a stored Arrow schema can turn an
    INT64 into duration or timestamp[s]."""
    phys = col.physical_type
    lt = json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if kind == "Decimal":
        return T.DecimalType(lt["precision"], lt["scale"])
    if kind == "None" and phys in _PLAIN_TYPES:
        return _PLAIN_TYPES[phys]()
    if phys == "INT96" and conf("int96AsTimestamp") == "true":
        return T.TimestampType()
    if phys == "INT32" and kind == "Date":
        return T.DateType()
    if phys in ("INT32", "INT64") and kind == "Int":
        return _INT_TYPES[(lt["bitWidth"], lt["isSigned"])]
    if phys == "INT64" and kind == "Timestamp":
        if lt["timeUnit"] == "nanoseconds":
            return T.LongType()  # under nanosAsLong
        if not lt["isAdjustedToUTC"] and conf("inferTimestampNTZ.enabled") == "true":
            return T.TimestampNTZType()
        return T.TimestampType()
    if phys == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON"):
            return T.StringType()
        if kind == "None":
            as_str = conf("binaryAsString") == "true"
            return T.StringType() if as_str else T.BinaryType()
        if kind == "BSON":
            return T.BinaryType()
    raise _Unmapped(f"{col.path}: {phys} {kind}")


def _arrow_to_spark(at, leaves, conf) -> T.DataType:
    """Arrow gives the nesting; each Arrow leaf consumes the next parquet
    leaf column (both enumerate leaves depth-first, in the same order)."""
    import pyarrow.types as pat

    if pat.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _arrow_to_spark(f.type, leaves, conf), True) for f in at]
        )
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return T.ArrayType(_arrow_to_spark(at.value_type, leaves, conf), True)
    if pat.is_map(at):
        key = _arrow_to_spark(at.key_type, leaves, conf)
        return T.MapType(key, _arrow_to_spark(at.item_type, leaves, conf), True)
    return _leaf_type(next(leaves), conf)


def parquet_schema(spark: SparkSession, path: str) -> tuple[T.StructType, list[str]]:
    """The schema ``spark.read.parquet(path)`` would infer, from one
    footer read on the driver, plus the top-level INT64
    TIMESTAMP(NANOS) columns. Pass it with ``.schema()`` and the read
    schedules no inference job (``parquet at NativeMethodAccessorImpl``,
    one per read otherwise). Derived on every call, never cached.

    A Spark-written footer carries Spark's own schema JSON, which Spark
    reads as is. Otherwise the parquet types map by Spark's rules,
    honouring the session's ``spark.sql.parquet.inferTimestampNTZ.enabled``,
    ``binaryAsString`` and ``int96AsTimestamp``. Nanos columns read as
    long under ``spark.sql.legacy.parquet.nanosAsLong``, which this sets
    when it finds one (runtime-settable, so it also works in a session
    built without ``session.py``'s defaults); ``restore_nanos`` turns
    the top-level ones back into timestamps. A layout or type the
    footer cannot answer for falls back to Spark's inference."""
    import pyarrow.parquet as pq

    probe = _first_part_file(path)
    ns_cols: list[str] = []
    try:
        if probe is None:
            raise _Unmapped(path)
        pf = pq.ParquetFile(probe)
        cols = [pf.schema.column(i) for i in range(len(pf.schema))]
        nanos = [
            c for c in cols
            if c.physical_type == "INT64"
            and "timeUnit=nanoseconds" in str(c.logical_type)
        ]
        if nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ns_cols = [c.name for c in nanos if "." not in c.path]
        spark_json = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA.encode())
        if spark_json is not None:
            return _nullable(T.StructType.fromJson(json.loads(spark_json))), ns_cols

        def conf(key: str) -> str:
            return spark.conf.get(f"spark.sql.parquet.{key}")

        leaves = iter(cols)
        schema = T.StructType(
            [
                T.StructField(f.name, _arrow_to_spark(f.type, leaves, conf), True)
                for f in pf.schema_arrow
            ]
        )
        if next(leaves, None) is not None:
            raise _Unmapped(path)
        return schema, ns_cols
    except (_Unmapped, KeyError, StopIteration, OSError, ValueError, TypeError,
            NotImplementedError):
        return spark.read.parquet(path).schema, ns_cols


def arrow_rows(rows, schema: T.StructType):
    """Driver-held rows (dicts by field name, or tuples in field order)
    → a ``pyarrow.Table`` typed by ``schema`` through Spark's own Arrow
    mapping. Timestamps become UTC micros, so naive datetimes are read
    as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(f.name) for r in rows] for f in arrow_schema]
    else:
        cols = [list(c) for c in zip(*rows)] or [[] for _ in arrow_schema]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """The DataFrame of driver-held control-plane rows (reports, file
    lists, catalog metadata, audit rows). Built from an Arrow table, it
    is a ``LocalRelation`` below Spark's
    ``spark.sql.execution.arrow.localRelationThreshold``: Catalyst folds
    its filters and projections, sees an empty one is empty, and a
    ``collect()`` of such a plan schedules no job. ``createDataFrame``
    of a Python list parallelizes it into a ``LogicalRDD`` instead,
    which every action pays a job for."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)


def restore_nanos(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """Nanos-as-long columns back to micros timestamps, truncated (not
    rounded) — how micros-native engines surface nanos data."""
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet scan → columnar, pushdown-capable; the
    footer-derived schema spares Spark's inference job."""
    path = table_path(sf_dir, name)
    schema, ns_cols = parquet_schema(spark, path)
    df = restore_nanos(spark.read.schema(schema).parquet(path), ns_cols)
    return normalize_timestamps(df)


def stream_table(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of ``load_table``: a file-source stream over the
    parquet files landed under ``path``, with the footer-derived schema
    (a file stream needs one up front), nanos restored and NTZ
    normalized."""
    schema, ns_cols = parquet_schema(spark, path)
    stream = spark.readStream.schema(schema).parquet(path)
    return normalize_timestamps(restore_nanos(stream, ns_cols))


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to plain TIMESTAMP.

    Parquet ``timestamp[us]`` WITHOUT a timezone surfaces as
    TIMESTAMP_NTZ in Spark 4; every downstream ``unix_micros()`` call and
    every streaming watermark requires plain TIMESTAMP. The session
    timezone is pinned UTC (session.py), so the cast preserves the stored
    wall-clock exactly — and DuckDB (the oracle) treats the same bytes as
    tz-less wall-clock, which under UTC is the identical instant. Applied
    inside ``load_table`` (not only in ``get_spark``) so the driver's own
    session gets the fix too; streaming readers call it directly."""
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TPCH_TABLES,
) -> dict[str, DataFrame]:
    """Register each table as a temp view named after itself.

    Views are lazy and each schema comes from a parquet footer read on
    the driver (``parquet_schema``), so registration schedules no Spark
    job; calling this per-query is cheap and keeps every query
    self-contained.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
