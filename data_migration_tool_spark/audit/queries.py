"""The reference's audit SQL (``datamigration_utils/constants.py:20-107``)
re-expressed as DataFrame builders over the AuditLog tables.

These queries are the reference's *own* relational workload — anti-joins
for rerun protocols, latest-run window selection, ordered string
aggregation, windowed incremental consumption — and they are the shapes
exercised (with oracles) over the big testdata tables in
``plans/relational.py``. Here they run over the real audit tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.functions.scalars import ordered_string_agg


def latest_run(df: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """Latest-run selection (constants.py:20-26): keep rows of the most
    recent ``ts_col`` per ``key_cols`` — window row_number, one shuffle,
    instead of the reference's correlated MAX subquery."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc(ts_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def tables_to_load(audit: AuditLog, rerun: bool = True) -> DataFrame:
    """query_rerun_y (constants.py:28-38): tables from the latest DDL
    extraction that do NOT yet have a PASS load — left anti-join against
    the load audit. ``rerun=False`` returns all extracted tables."""
    meta = audit.table("hive_ddl_metadata").filter(F.col("ddl_extracted") == "YES")
    latest = latest_run(meta, ["database", "table"], "start_time").select(
        "database", "bq_dataset", "table", "format", "field_delimiter",
        "partition_flag", "cluster_flag",
    ).distinct()
    if not rerun:
        return latest
    # an anti-join keeps a row once however many matches it has, so
    # repeated PASS loads need no distinct
    loaded = (
        audit.table("hive_bqload_audit")
        .filter(F.col("load_status") == "PASS")
        .select(F.col("hive_db_name").alias("database"), F.col("tablename").alias("table"))
    )
    return latest.join(loaded, ["database", "table"], "left_anti")


def dvt_passed_tables(audit: AuditLog) -> DataFrame:
    """query_dvt_y (constants.py:41-46): tables whose latest validation
    run has success rows and no fail rows — anti-join of pass set
    against fail set (J3)."""
    res = audit.table("dmt_dvt_results")
    passed = (
        res.filter(F.col("validation_status") == "success")
        .select("source_table_name", "run_id")
        .distinct()
    )
    failed = (
        res.filter(F.col("validation_status") == "fail")
        .select("source_table_name", "run_id")
        .distinct()
    )
    return passed.join(failed, ["source_table_name", "run_id"], "left_anti")


def validation_run_summary(audit: AuditLog) -> DataFrame:
    """Run summaries (A2/A8): per (run, table) pass/fail tallies with the
    HAVING-conditional-sum shape from teradata_data_load_dag.py:133-150."""
    res = audit.table("dmt_dvt_results")
    return (
        res.groupBy("run_id", "source_table_name")
        .agg(
            F.count(F.lit(1)).alias("n_validations"),
            F.sum(
                F.when(F.col("validation_status") == "fail", 1).otherwise(0)
            ).alias("n_failed"),
        )
        .withColumn(
            "table_status",
            F.when(F.col("n_failed") == 0, "PASS").otherwise("FAIL"),
        )
    )


def labeled_validation_summary(results: DataFrame, unique_id: str) -> DataFrame:
    """Aggregated DVT results for one run, selected by exploding the
    repeated ``labels`` field (array<struct<key,value>>) and matching
    the label VALUE — the reference's CROSS JOIN UNNEST(labels) filter
    (validation_dag.py:181-195), which tags results with run labels
    instead of a run_id column. One row: (unique_id, total_validations,
    successful_validations, failed_validations).

    At 100 TB of audit rows: explode is a map-side row multiplier
    (|labels| per row, no shuffle); the only exchange is the final
    single-group agg's one-row-per-partition partial."""
    lab = results.select(
        "validation_status", F.explode("labels").alias("lab")
    ).filter(F.col("lab.value") == unique_id)
    return lab.agg(
        F.lit(unique_id).alias("unique_id"),
        F.count(F.lit(1)).alias("total_validations"),
        F.sum(
            F.when(F.col("validation_status") == "success", 1).otherwise(0)
        ).alias("successful_validations"),
        F.sum(
            F.when(F.col("validation_status") == "fail", 1).otherwise(0)
        ).alias("failed_validations"),
    )


def schema_strings(columns_info: DataFrame) -> DataFrame:
    """Explicit schema-string reconstruction (constants.py:66-73):
    ``col:type`` joined in ordinal order per table — ordered STRING_AGG
    (A4) via sorted collect_list."""
    return columns_info.groupBy("table_name").agg(
        ordered_string_agg(
            F.concat_ws(":", F.col("column_name"), F.col("data_type")),
            "ordinal_position",
        ).alias("schema_string")
    )


def clustering_columns(columns_info: DataFrame) -> DataFrame:
    """Partition+clustering column lists (constants.py:54-64): UNION ALL
    of the partition-column and clustering-column subqueries, then
    ordered STRING_AGG per table (U1 + A4)."""
    part = (
        columns_info.filter(F.col("is_partitioning_column") == "YES")
        .select(
            "table_name",
            F.col("column_name"),
            F.lit(0).alias("ord"),
            F.lit("partition").alias("kind"),
        )
    )
    clus = (
        columns_info.filter(F.col("clustering_ordinal_position").isNotNull())
        .select(
            "table_name",
            F.col("column_name"),
            F.col("clustering_ordinal_position").alias("ord"),
            F.lit("cluster").alias("kind"),
        )
    )
    return (
        part.unionByName(clus)
        .groupBy("table_name", "kind")
        .agg(ordered_string_agg("column_name", "ord").alias("columns"))
    )


def _with_table_max(df: DataFrame, value: Column, name: str) -> DataFrame:
    """``df`` plus column ``name``: the max of ``value`` over all of its
    rows. A ``max(...) OVER ()`` window moves the rows to one partition
    through one exchange, and that ``SinglePartition`` output satisfies
    a following ``distinct`` without another; the
    ``crossJoin(broadcast(agg))`` shape it replaces plans an aggregate
    exchange, a broadcast and the distinct's own exchange (4 jobs per
    collect, 2 here). A scalar subquery also runs 4. The audit tables
    are one driver-resident frame, so one partition is their grain;
    Spark's "No Partition Defined for Window operation" warning is
    expected."""
    return df.withColumn(name, F.max(value).over(Window.partitionBy()))


def files_in_window(audit: AuditLog, lookback_days: int = 1) -> DataFrame:
    """Windowed incremental consumption (ST2, constants.py:84-90): pubsub
    audit rows whose publish_time ∈ (max - lookback, max], file name
    pulled out of the JSON payload (F3)."""
    pubsub = _with_table_max(audit.table("hive_pubsub_audit"), F.col("publish_time"), "mx")
    return (
        pubsub.filter(
            (F.col("publish_time") > F.col("mx") - F.expr(f"INTERVAL {lookback_days} DAY"))
            & (F.col("publish_time") <= F.col("mx"))
        )
        .select(
            F.get_json_object(F.col("data"), "$.name").alias("file_name"),
            F.get_json_object(F.col("data"), "$.bucket").alias("bucket"),
            "publish_time",
            "message_id",
        )
        .distinct()
    )


def latest_pass_copies(audit: AuditLog) -> DataFrame:
    """constants.py:92-100's selection: the PASS file-copy rows of the
    latest job-run date, that date taken over every copy row (a later
    FAIL-only date selects nothing)."""
    run_date = F.to_date("job_run_time")
    cs = _with_table_max(audit.table("hive_inc_load_table_list"), run_date, "__d")
    return cs.filter(
        (run_date == F.col("__d")) & (F.col("file_copy_status") == "PASS")
    ).drop("__d")


def affected_tables_from_copy_status(audit: AuditLog) -> DataFrame:
    """constants.py:92-100: distinct PASS-copied tables from the latest
    job-run date."""
    return latest_pass_copies(audit).select("hive_db", "bq_dataset", "table_name").distinct()
