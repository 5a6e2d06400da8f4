"""Append-only parquet audit tables — the engine's ``dmt_logs`` dataset.

Replaces the reference's BigQuery audit sink
(``bigquery_client_utils/utils.py:9-27`` ``insert_rows_json``, ≥15 call
sites) with parquet append under a root directory. Known table schemas
follow FIXTURES.md §5 (derived from ``terraform/**/bq_schemas/*.json``).

Scale: audit rows are metadata-grain — one row per table, file, DDL
statement, validation or guard trip, never per data row — so an append
is one small parquet file written on the driver, and a read stays on
the driver: ``arrow`` reads the part files with pyarrow into one Arrow
table. The AuditLog-fed queries in ``audit.queries`` compute over that
table with ``pyarrow.compute`` and hand Spark only their result;
``table`` hands Spark the whole table. Either way Spark gets an Arrow
table, which is a ``LocalRelation``: filters and projections over it
fold in Catalyst and a ``collect()`` of them schedules no job. Above
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark
parallelizes the same table from the driver, so a larger log stays
correct, only no longer job-free. At fleet scale you'd point ``root``
at object storage and compact periodically. Every append to a table
carries that table's one schema, so the schema comes from one part
file's footer — no schema merge and no inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_migration_tool_spark.tables import arrow_rows, parquet_schema

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
    """``dmt_logs`` on parquet: ``insert_rows`` appends, ``arrow`` and
    ``table`` read, ``view`` registers ``dmt_<name>`` temp views for audit SQL."""

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
        """JSON-row append (reference ``insert_rows_json``) to a
        ``KNOWN_SCHEMAS`` table; frames of any other shape go through
        ``insert_df``.

        The part file is written directly with pyarrow — a driver-local
        file create, ~ms — instead of a Spark job (~0.5 s per append;
        audit-heavy operators fire several appends per call). Its arrow
        schema comes from the Spark schema (``tables.arrow_rows``,
        timestamps as UTC micros), so pyarrow- and Spark-written parts
        of one table read back as one schema."""
        import uuid

        import pyarrow.parquet as pq

        if table not in KNOWN_SCHEMAS:
            raise KeyError(f"audit table {table} has no known schema; use insert_df")
        tbl = arrow_rows(rows, KNOWN_SCHEMAS[table])
        dirpath = self.path(table)
        os.makedirs(dirpath, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
        pq.write_table(tbl, os.path.join(dirpath, fname), compression="snappy")

    def insert_df(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path(table))

    def _parts(self, table: str) -> list[str]:
        """The part files Spark's directory read would list."""
        p = self.path(table)
        if not os.path.isdir(p):
            return []
        return sorted(
            os.path.join(p, f) for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    def exists(self, table: str) -> bool:
        return bool(self._parts(table))

    def _read(self, table: str):
        """(Arrow table, Spark schema) of ``table``: every part file read
        with pyarrow and cast to the Arrow form of the schema
        ``spark.read.parquet`` infers, so pyarrow-written and
        Spark-written parts unify."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        parts = self._parts(table)
        if not parts:
            schema = KNOWN_SCHEMAS.get(table)
            if schema is None:
                raise FileNotFoundError(f"audit table {table} has no rows and no known schema")
            return arrow_rows([], schema), schema
        schema, _ = parquet_schema(self.spark, self.path(table))
        arrow_schema = to_arrow_schema(schema)
        tbl = pa.concat_tables(
            pq.read_table(p, columns=arrow_schema.names).cast(arrow_schema)
            for p in parts
        )
        # one chunk: Spark stops reading the Arrow stream at an empty
        # batch that is not the first, and an empty part file is one
        return tbl.combine_chunks(), schema

    def arrow(self, table: str):
        """The table as one ``pyarrow.Table`` in the Arrow form of the
        schema Spark infers; the AuditLog-fed queries in
        ``audit.queries`` compute over it."""
        return self._read(table)[0]

    def table(self, table: str) -> DataFrame:
        """The table as a driver-resident frame (see the module
        docstring): ``arrow`` handed to Spark with the inferred schema."""
        tbl, schema = self._read(table)
        return self.spark.createDataFrame(tbl, schema)

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
