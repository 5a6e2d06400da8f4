"""Concurrent DDL execution with retry-until-fixpoint (SURVEY §2.11;
reference ``bigquery_client_utils/ddl.py:106-153`` + ``schema_dag.py``).

The reference fires all translated DDL files at BigQuery concurrently,
collects failures, and retries the failed set until it stops shrinking —
implicitly resolving dependency order (views after tables) without a
dependency graph. Same protocol here against the Spark catalog.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

from pyspark.sql import SparkSession

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.partitioning import PAR_JOBS_MAX, par_jobs


@dataclass
class DDLResult:
    statement: str
    status: str  # success | fail | exists
    error: str | None = None
    attempts: int = 1


def _run_one(spark: SparkSession, stmt: str) -> tuple[str, str | None]:
    try:
        spark.sql(stmt).collect()
        return "success", None
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        if "TABLE_OR_VIEW_ALREADY_EXISTS" in msg or "already exists" in msg.lower():
            # reference treats HTTP 409 as done (schema_dag.py:145-153)
            return "exists", None
        return "fail", msg.split("\n")[0][:500]


def execute_ddl_fixpoint(
    spark: SparkSession,
    statements: list[str],
    max_workers: int = PAR_JOBS_MAX,
    audit: AuditLog | None = None,
    run_id: str = "ddl_run",
) -> list[DDLResult]:
    """Run all statements concurrently (``par_jobs``, at most
    ``max_workers`` at once); retry the failed set until it stops
    shrinking (fixpoint). Dependency chains (view → table) resolve
    themselves across rounds, like the reference's retry state machine."""
    results = {s: DDLResult(s, "pending") for s in statements}
    pending = list(statements)
    attempt = 0
    while pending:
        attempt += 1
        outcomes = par_jobs(
            *[lambda s=s: (s, _run_one(spark, s)) for s in pending],
            max_workers=max_workers,
        )
        failed = []
        for stmt, (status, err) in outcomes:
            results[stmt] = DDLResult(stmt, status, err, attempt)
            if status == "fail":
                failed.append(stmt)
        if len(failed) == len(pending):  # no progress → stop
            break
        pending = failed
    out = list(results.values())
    if audit is not None:
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        audit.insert_rows(
            "dmt_schema_results",
            [
                {
                    "unique_id": run_id,
                    "sql_file_name": r.statement[:80],
                    "job_id": f"{run_id}_{i}",
                    "status": r.status,
                    "error_details": r.error,
                    "execution_start_time": now,
                    "gcs_source_path": None,
                }
                for i, r in enumerate(out)
            ],
        )
    return out
