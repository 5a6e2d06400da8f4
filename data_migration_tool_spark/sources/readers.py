"""Format-aware table readers (SURVEY S5-S7).

Mirrors the reference's bulk-load surface
(``hive_bq_load_utils.py:201-227,308-417``): CSV with arbitrary single-
char delimiters (including ``\\x01``), explicit DDL-string schemas for
partitioned CSV (``constants.py:66-73``), parquet/ORC/Avro/JSON, and
Hive-style partition discovery from a directory prefix (the
``--hive_partitioning_mode=AUTO`` equivalent — Spark does this natively
on directory reads).

Everything returns a plain DataFrame; writes are in ``writers``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_migration_tool_spark.tables import parquet_schema

SUPPORTED_FORMATS = ("parquet", "csv", "json", "orc", "avro", "text", "xml")


def _avro_available(spark: SparkSession) -> bool:
    """spark-avro is an external module (not in pip pyspark's jars);
    probe via Spark's own datasource lookup — a bare Class.forName is
    fooled by the avro shim classes spark-sql bundles (functions like
    from_avro exist even when the FILE datasource is absent)."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def read_table(
    spark: SparkSession,
    path: str | list[str],
    fmt: str = "parquet",
    delimiter: str | None = None,
    schema_ddl: str | None = None,
    header: bool = False,
    skip_rows: int = 0,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read a file-backed table from one path or a list of them.

    - a list of paths: read as one table with the same reader settings;
      a parquet schema comes from the first path, so the paths must
      share it.
    - ``delimiter``: any single char incl. ``\\x01`` (Hive default SERDE
      delimiter, sniffed by the reference at extract_hive_ddls.py:135-144).
    - ``schema_ddl``: ``"c1 INT, c2 STRING"`` — the reconstructed
      schema-string contract for partitioned CSV; bypasses inference so
      the scan is single-pass.
    - ``skip_rows``: leading non-data rows (reference skips 2 header
      rows in validation-param CSVs, storage_utils.py:95).
    - partition discovery: pass a directory with ``key=value``
      subdirectories; Spark surfaces partition columns automatically.
    """
    fmt = fmt.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    if fmt == "avro" and not _avro_available(spark):
        # pip pyspark ships the avro CORE jars but not the spark-avro
        # datasource; fall back to the pure-Python OCF reader (schema +
        # logical types honored, per-file parallel decode, cross-
        # verified against the JVM reference implementation in
        # test_sources.py). The connector remains the scale path — on a
        # classpath that has it this branch never runs.
        if schema_ddl or delimiter or skip_rows or options:
            raise RuntimeError(
                "avro fallback reader supports plain path reads only "
                "(schema comes from the file header); install the "
                "spark-avro connector for reader options"
            )
        from data_migration_tool_spark.sources.avro_fallback import read_avro

        return read_avro(spark, path)
    reader = spark.read
    if schema_ddl:
        reader = reader.schema(schema_ddl)
    elif fmt == "parquet" and not options:
        # the footer schema spares Spark's inference job; reader options
        # (mergeSchema, recursiveFileLookup, ...) keep Spark's inference
        first = path if isinstance(path, str) else path[0]
        reader = reader.schema(parquet_schema(spark, first)[0])
    if fmt == "csv":
        reader = reader.option("sep", delimiter or ",").option(
            "header", str(header).lower()
        )
        if not schema_ddl:
            reader = reader.option("inferSchema", "true")
    if fmt == "xml" and "rowTag" not in (options or {}):
        # Spark 4 native XML needs the repeating element name; "row" is
        # our writer's default so round-trips work with no options
        reader = reader.option("rowTag", "row")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.format(fmt).load(path)
    if skip_rows:
        # CSV-only: drop the first N physical rows (monotonic id is
        # ordered within the leading file partition, matching pandas'
        # skiprows for the single-file config CSVs this is used on)
        from pyspark.sql import functions as F

        df = (
            df.withColumn("__rn", F.monotonically_increasing_id())
            .filter(F.col("__rn") >= skip_rows)
            .drop("__rn")
        )
    return df
