"""Catalog DDL extraction, Spark-native (SURVEY S11; the reference's own
PySpark component ``extract_hive_ddls.py:81-113,147-221`` uses the same
catalog calls — this is the one place reference and engine share an API
by construction, not by copying).

Also provides the S9 shape (Oracle ``all_tab_columns`` → CREATE TABLE
reconstruction via ordinal-ordered string aggregation) as a pure
DataFrame op over any (table, column, type, ordinal) frame — the
reference does it with a CTE + XMLAGG; here it's ``collect_list`` over
an ordinal-sorted struct (SURVEY A4/O1).
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.functions.scalars import ordered_string_agg
from data_migration_tool_spark.partitioning import par_jobs
from data_migration_tool_spark.tables import local_frame


@dataclass
class TableMeta:
    database: str
    table: str
    fmt: str  # parquet | csv | json | orc | avro | ...
    field_delimiter: str | None
    partition_columns: list[str]
    ddl: str


def _catalog_tables(spark: SparkSession, database: str) -> list[str]:
    """Names of the catalog tables (and views) of ``database``, in
    catalog order. ``SHOW TABLES`` is a driver-side command whose result
    Spark plans as a ``LocalRelation``, so listing schedules no job
    (``spark.catalog.listTables`` runs its result through
    ``toLocalIterator``: three jobs). Session temp views are not catalog
    tables and are left out."""
    rows = spark.sql(f"SHOW TABLES IN {database}").collect()
    return [r.tableName for r in rows if not r.isTemporary]


def _partition_columns(desc) -> list[str]:
    """Partition columns of ``DESCRIBE [FORMATTED]`` rows: the names
    between the '# Partition Information' marker and the next blank or
    '#' row ('# col_name' is the section's header)."""
    part_cols: list[str] = []
    in_part = False
    for r in desc:
        name = r.col_name.strip()
        if name == "# Partition Information":
            in_part = True
            continue
        if in_part:
            if name.startswith("#") or not name:
                if name == "# col_name":
                    continue
                break
            part_cols.append(name)
    return part_cols


def table_metadata(spark: SparkSession, qualified_name: str) -> TableMeta:
    """Format / delimiter / partition columns / DDL for one catalog
    table. ``DESCRIBE FORMATTED`` rows are a tiny DataFrame — filter on
    col_name like the reference's InputFormat probe (P4), but against
    Spark's ``Provider`` row since our tables are datasource tables.
    Every command here runs on the driver and schedules no job."""
    db, _, tbl = qualified_name.rpartition(".")
    desc = spark.sql(f"DESCRIBE FORMATTED {qualified_name}").collect()
    kv = {r.col_name.strip(): (r.data_type or "").strip() for r in desc}
    fmt = kv.get("Provider", "parquet").lower()
    part_cols = _partition_columns(desc)

    delim = None
    if fmt == "csv":
        opts = spark.sql(f"SHOW TBLPROPERTIES {qualified_name}").collect()
        props = {r.key: r.value for r in opts}
        delim = props.get("option.sep") or props.get("option.delimiter")

    ddl = spark.sql(f"SHOW CREATE TABLE {qualified_name}").first()[0]
    return TableMeta(db or spark.catalog.currentDatabase(), tbl, fmt, delim, part_cols, ddl)


def extract_catalog_ddls(
    spark: SparkSession,
    database: str,
    out_dir: str,
    audit: AuditLog | None = None,
    run_id: str = "extract-0",
) -> list[TableMeta]:
    """Extract DDL for every table in ``database``: one ``.sql`` file per
    table under ``out_dir/database/`` (S16 text sink) plus a
    ``hive_ddl_metadata`` audit row per table (ddl_extracted YES/NO,
    format, delimiter, partition/cluster flags) — the driver-side walk
    matches the reference's listTables loop; per-table DDL text is
    catalog metadata, never data-sized.

    The per-table catalog commands are driver-only and independent, so
    they run on ``par_jobs``' bounded pool; results and audit rows keep
    catalog order, and a failing table is audited ``NO`` without
    stopping the others."""
    os.makedirs(os.path.join(out_dir, database), exist_ok=True)
    now = datetime.datetime.now(datetime.timezone.utc)

    def extract(name: str) -> TableMeta | None:
        try:
            meta = table_metadata(spark, f"{database}.{name}")
            with open(os.path.join(out_dir, database, f"{name}.sql"), "w") as f:
                f.write(meta.ddl + ";\n")
            return meta
        except Exception:  # noqa: BLE001 — failed tables audited, not fatal
            return None

    names = _catalog_tables(spark, database)
    results = par_jobs(*[lambda n=n: extract(n) for n in names])
    rows = [
        {
            "run_id": run_id,
            "start_time": now,
            "database": database,
            "bq_dataset": database,
            "table": name,
            "field_delimiter": meta.field_delimiter if meta else None,
            "partition_flag": "Y" if meta and meta.partition_columns else "N",
            "cluster_flag": "N",
            "format": meta.fmt if meta else None,
            "ddl_extracted": "YES" if meta else "NO",
        }
        for name, meta in zip(names, results)
    ]
    if audit is not None and rows:
        audit.insert_rows("hive_ddl_metadata", rows)
    return [m for m in results if m is not None]


def columns_info(spark: SparkSession, database: str) -> DataFrame:
    """(table_name, column_name, data_type, ordinal_position,
    is_partitioning_column) for every table — the INFORMATION_SCHEMA
    frame the reference's audit SQL joins against (constants.py:54-73).
    Built from catalog metadata on the driver: the table's schema as the
    analyzer resolves it (CHAR/VARCHAR read as string; a struct of over
    25 fields is written out in full, where ``spark.catalog.listColumns``
    truncates it) and the partition section of ``DESCRIBE``; no job,
    tiny, driver-resident (``local_frame``)."""

    def table_columns(name: str) -> list[tuple]:
        qualified = f"{database}.{name}"
        parts = set(_partition_columns(spark.sql(f"DESCRIBE {qualified}").collect()))
        return [
            (name, f.name, f.dataType.simpleString(), i + 1,
             "YES" if f.name in parts else "NO")
            for i, f in enumerate(spark.table(qualified).schema)
        ]

    names = _catalog_tables(spark, database)
    per_table = par_jobs(*[lambda n=n: table_columns(n) for n in names])
    return local_frame(
        spark,
        [row for rows in per_table for row in rows],
        "table_name string, column_name string, data_type string, "
        "ordinal_position int, is_partitioning_column string",
    )


def reconstruct_create_table(cols: DataFrame, target_db: str | None = None) -> DataFrame:
    """(table_name, ddl): CREATE TABLE text rebuilt from a columns frame
    via ordinal-ordered string aggregation — the S9 Oracle shape
    (``build_oracle_ddl_extraction_group.py:84-131``) without the
    XMLAGG workaround: ``collect_list(struct(ord, piece))`` sorted then
    joined. One shuffle on table_name; output is one row per table."""
    piece = F.concat_ws(" ", F.col("column_name"), F.col("data_type"))
    body = ordered_string_agg(piece, "ordinal_position", sep=", ")
    prefix = (target_db + ".") if target_db else ""
    return (
        cols.groupBy("table_name")
        .agg(body.alias("cols"))
        .select(
            "table_name",
            F.concat(
                F.lit(f"CREATE TABLE {prefix}"),
                F.col("table_name"),
                F.lit(" ("),
                F.col("cols"),
                F.lit(")"),
            ).alias("ddl"),
        )
    )
