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

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.functions.scalars import ordered_string_agg
from data_migration_tool_spark.tables import local_frame


@dataclass
class TableMeta:
    database: str
    table: str
    fmt: str  # parquet | csv | json | orc | avro | ...
    field_delimiter: str | None
    partition_columns: list[str]
    ddl: str


def table_metadata(spark: SparkSession, qualified_name: str) -> TableMeta:
    """Format / delimiter / partition columns / DDL for one catalog
    table. ``DESCRIBE FORMATTED`` rows are a tiny DataFrame — filter on
    col_name like the reference's InputFormat probe (P4), but against
    Spark's ``Provider`` row since our tables are datasource tables."""
    db, _, tbl = qualified_name.rpartition(".")
    desc = spark.sql(f"DESCRIBE FORMATTED {qualified_name}").collect()
    kv = {r.col_name.strip(): (r.data_type or "").strip() for r in desc}
    fmt = kv.get("Provider", "parquet").lower()

    # partition columns appear between the '# Partition Information' and
    # blank/'# Detailed Table Information' markers
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
    catalog metadata, never data-sized."""
    os.makedirs(os.path.join(out_dir, database), exist_ok=True)
    metas: list[TableMeta] = []
    rows: list[dict] = []
    now = __import__("datetime").datetime.now(__import__("datetime").timezone.utc)
    for t in spark.catalog.listTables(database):
        if t.isTemporary:  # session temp views are not catalog tables
            continue
        qualified = f"{database}.{t.name}"
        try:
            meta = table_metadata(spark, qualified)
            with open(os.path.join(out_dir, database, f"{t.name}.sql"), "w") as f:
                f.write(meta.ddl + ";\n")
            metas.append(meta)
            extracted = "YES"
            fmt, delim, parts = meta.fmt, meta.field_delimiter, meta.partition_columns
        except Exception:  # noqa: BLE001 — failed tables audited, not fatal
            extracted, fmt, delim, parts = "NO", None, None, []
        rows.append(
            {
                "run_id": run_id,
                "start_time": now,
                "database": database,
                "bq_dataset": database,
                "table": t.name,
                "field_delimiter": delim,
                "partition_flag": "Y" if parts else "N",
                "cluster_flag": "N",
                "format": fmt,
                "ddl_extracted": extracted,
            }
        )
    if audit is not None and rows:
        audit.insert_rows("hive_ddl_metadata", rows)
    return metas


def columns_info(spark: SparkSession, database: str) -> DataFrame:
    """(table_name, column_name, data_type, ordinal_position,
    is_partitioning_column) for every table — the INFORMATION_SCHEMA
    frame the reference's audit SQL joins against (constants.py:54-73).
    Built from catalog metadata; tiny, driver-resident (``local_frame``)."""
    rows = []
    for t in spark.catalog.listTables(database):
        if t.isTemporary:
            continue
        for i, c in enumerate(spark.catalog.listColumns(f"{database}.{t.name}")):
            rows.append(
                (t.name, c.name, c.dataType, i + 1, "YES" if c.isPartition else "NO")
            )
    return local_frame(
        spark,
        rows,
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
