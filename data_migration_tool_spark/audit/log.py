"""Append-only parquet audit tables — the engine's ``dmt_logs`` dataset.

Replaces the reference's BigQuery audit sink
(``bigquery_client_utils/utils.py:9-27`` ``insert_rows_json``, ≥15 call
sites) with parquet append under a root directory. Known table schemas
follow FIXTURES.md §5 (derived from ``terraform/**/bq_schemas/*.json``).

Scale: audit rows are tiny; each insert is one small parquet file.
At fleet scale you'd point ``root`` at object storage and compact
periodically. Every append to a table carries that table's one schema,
so the read path (``table``) takes it from one part file's footer — no
schema merge and no inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_migration_tool_spark.tables import parquet_schema

_S = T.StructField


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([_S(n, t) for n, t in fields])


KNOWN_SCHEMAS: dict[str, T.StructType] = {
    "hive_ddl_metadata": _schema(
        ("run_id", T.StringType()),
        ("start_time", T.TimestampType()),
        ("database", T.StringType()),
        ("bq_dataset", T.StringType()),
        ("table", T.StringType()),
        ("field_delimiter", T.StringType()),
        ("partition_flag", T.StringType()),
        ("cluster_flag", T.StringType()),
        ("format", T.StringType()),
        ("ddl_extracted", T.StringType()),
    ),
    "hive_bqload_audit": _schema(
        ("load_dtm", T.TimestampType()),
        ("run_id", T.StringType()),
        ("hive_db_name", T.StringType()),
        ("bq_dataset", T.StringType()),
        ("tablename", T.StringType()),
        ("bq_job_id", T.StringType()),
        ("load_status", T.StringType()),
        ("reason_for_failure", T.StringType()),
    ),
    "hive_inc_load_table_list": _schema(
        ("unique_id", T.StringType()),
        ("job_run_time", T.TimestampType()),
        ("load_start_time", T.TimestampType()),
        ("load_end_time", T.TimestampType()),
        ("hive_db", T.StringType()),
        ("bq_dataset", T.StringType()),
        ("table_name", T.StringType()),
        ("source_path", T.StringType()),
        ("destination_path", T.StringType()),
        ("file_copy_status", T.StringType()),
    ),
    "hive_pubsub_audit": _schema(
        ("subscription_name", T.StringType()),
        ("message_id", T.StringType()),
        ("publish_time", T.TimestampType()),
        ("data", T.StringType()),
        ("attributes", T.StringType()),
    ),
    "dmt_dvt_results": _schema(
        ("run_id", T.StringType()),
        ("validation_name", T.StringType()),
        ("validation_type", T.StringType()),
        ("start_time", T.TimestampType()),
        ("source_table_name", T.StringType()),
        ("target_table_name", T.StringType()),
        ("source_column_name", T.StringType()),
        ("aggregation_type", T.StringType()),
        ("group_by_columns", T.StringType()),
        ("source_agg_value", T.StringType()),
        ("target_agg_value", T.StringType()),
        ("difference", T.DoubleType()),
        ("pct_difference", T.DoubleType()),
        ("pct_threshold", T.DoubleType()),
        ("validation_status", T.StringType()),
        (
            "labels",
            T.ArrayType(
                T.StructType(
                    [_S("key", T.StringType()), _S("value", T.StringType())]
                )
            ),
        ),
        ("configuration_json", T.StringType()),
    ),
    "dmt_schema_results": _schema(
        ("unique_id", T.StringType()),
        ("sql_file_name", T.StringType()),
        ("job_id", T.StringType()),
        ("status", T.StringType()),
        ("error_details", T.StringType()),
        ("execution_start_time", T.TimestampType()),
        ("gcs_source_path", T.StringType()),
    ),
    # per-file + aggregate translation stats (reference
    # batch_sql_translation.py:289-354; terraform translation bq_schemas)
    "dmt_translation_results": _schema(
        ("unique_id", T.StringType()),
        ("input_file_name", T.StringType()),
        ("status", T.StringType()),
        ("error_details", T.StringType()),
        ("warning_count", T.IntegerType()),
        ("execution_start_time", T.TimestampType()),
    ),
    "dmt_translation_aggregated_results": _schema(
        ("unique_id", T.StringType()),
        ("total_files", T.IntegerType()),
        ("successful_files", T.IntegerType()),
        ("failed_files", T.IntegerType()),
        ("execution_start_time", T.TimestampType()),
    ),
    # guard engagements: every refusal / skew reroute leaves a row, the
    # same observability contract as the reference's 16 TB size-guard
    # skip (hive_bq_load_utils.py:154-173 writes an audit row per
    # skipped table rather than failing silently)
    "dmt_guard_events": _schema(
        ("event_time", T.TimestampType()),
        ("run_id", T.StringType()),
        ("guard", T.StringType()),
        ("action", T.StringType()),
        ("subject", T.StringType()),
        ("implied_cost", T.LongType()),
        ("cap", T.LongType()),
        ("detail", T.StringType()),
    ),
    "dmt_report_table": _schema(
        ("unique_id", T.StringType()),
        ("source_db", T.StringType()),
        ("dag_name", T.StringType()),
        ("execution_time", T.TimestampType()),
        ("dag_status", T.StringType()),
        (
            "Error",
            T.ArrayType(
                T.StructType(
                    [
                        _S("task_name", T.StringType()),
                        _S("error_message", T.StringType()),
                        _S("log_link", T.StringType()),
                    ]
                )
            ),
        ),
    ),
}


class AuditLog:
    """``dmt_logs`` on parquet: ``insert_rows`` appends, ``table`` reads,
    ``view`` registers ``dmt_<name>`` temp views for audit SQL."""

    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = root
        # Stamped into guard-event rows so audit queries can scope to
        # the latest run (the reference's unique_id-per-run convention,
        # constants.py:20-107 — every dmt_logs table carries a run key
        # its audit queries filter on).
        self.run_id = run_id
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def insert_rows(self, table: str, rows: list[dict]) -> None:
        """JSON-row append (reference ``insert_rows_json``).

        Known-schema appends are written directly with pyarrow — a
        driver-local file create, ~ms — instead of a Spark job (~0.5 s
        per append even on the LocalRelation fast path; audit-heavy
        operators fire several appends per call, all driver-side fixed
        cost, guide §5). The arrow schema comes from the same Spark
        schema (``to_arrow_schema``, timestamps as UTC micros), so
        Spark's directory read unifies arrow- and Spark-written parts.
        Unknown tables (schema inferred from dicts) keep the Spark
        writer, as does any arrow conversion surprise."""
        schema = KNOWN_SCHEMAS.get(table)
        if schema is not None:
            try:
                self._insert_rows_arrow(table, rows, schema)
                return
            except Exception:  # noqa: BLE001 — fall back to the Spark writer
                pass
        if schema is not None:
            data = [tuple(r.get(f.name) for f in schema.fields) for r in rows]
            df = self.spark.createDataFrame(data, schema)
        else:
            df = self.spark.createDataFrame(rows)
        # No coalesce(1): CoalesceExec over a LocalRelation defeats the
        # local-table write fast path and costs ~3.5 s per 1-row append
        # (measured; plain write is ~0.5 s). Empty partitions produce no
        # files, so small appends still emit only 1-2 files each.
        df.write.mode("append").parquet(self.path(table))

    def _insert_rows_arrow(self, table: str, rows: list[dict], schema) -> None:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        cols = [
            pa.array([r.get(f.name) for r in rows], type=f.type)
            for f in arrow_schema
        ]
        tbl = pa.Table.from_arrays(cols, schema=arrow_schema)
        dirpath = self.path(table)
        os.makedirs(dirpath, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
        pq.write_table(tbl, os.path.join(dirpath, fname), compression="snappy")

    def insert_df(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path(table))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )

    def table(self, table: str) -> DataFrame:
        if self.exists(table):
            path = self.path(table)
            schema, _ = parquet_schema(self.spark, path)
            return self.spark.read.schema(schema).parquet(path)
        schema = KNOWN_SCHEMAS.get(table)
        if schema is None:
            raise FileNotFoundError(f"audit table {table} has no rows and no known schema")
        return self.spark.createDataFrame([], schema)

    def view(self, table: str, view_name: str | None = None) -> DataFrame:
        df = self.table(table)
        df.createOrReplaceTempView(view_name or table)
        return df


def guard_event(
    audit: AuditLog,
    guard: str,
    action: str,
    subject: str,
    implied_cost: int,
    cap: int,
    detail: str,
) -> None:
    """Record one guard engagement in ``dmt_guard_events``.

    ``action``: ``"refuse"`` (operator raised instead of running the
    plan), ``"reroute"`` (degraded to a cheaper protocol, e.g. hot
    buckets → exact dedup), or ``"degrade"`` (ran with reduced
    semantics, e.g. exact Jaccard verified over LSH candidates).
    ``implied_cost`` and ``cap`` quote the statistics the decision was
    made on, so the row explains itself without the driver log."""
    import datetime

    audit.insert_rows(
        "dmt_guard_events",
        [
            {
                "event_time": datetime.datetime.now(),
                "run_id": getattr(audit, "run_id", None),
                "guard": guard,
                "action": action,
                "subject": subject,
                "implied_cost": implied_cost,
                "cap": cap,
                "detail": detail,
            }
        ],
    )
