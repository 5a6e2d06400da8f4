"""Batch SQL translation pipeline (SURVEY §3.1 steps 5-6; reference
``batch_sql_translation.py:104-354`` + ``schema_dag.py:134-196`` +
``dml_validation_dag.py:46-214``).

The reference's flow — create Migration API workflow, poll, parse the
error report CSV, apply ``translationErrorFilterRules``, diff
all-vs-failed, then either execute translated DDL (schema path) or
dry-run translated DML — collapses here into one in-process pipeline:

1. scan ``sourcePath`` for ``.sql`` files,
2. translate each (DDL via :mod:`translate.transpiler`, SQL/DML via
   :mod:`translate.dml`) and write Spark SQL to ``targetPath``,
3. build the error-report **DataFrame** and split it with the config's
   filter rules compiled to one Catalyst predicate (P7/U3 — the
   failed/translated split is a plan, never a driver set-diff; both
   frames are driver-resident, built by ``tables.local_frame``, so
   Catalyst folds the split of an empty report and its ``collect()``
   runs no job),
4. DDL: execute translated statements with the retry-fixpoint executor;
   SQL/DML: analyze-only dry run per statement,
5. audit per-file and aggregate rows, return per-file
   :class:`TaskResult` values (``dynamic=True`` → the reference's
   Partial Success semantics for mapped tasks).

The per-file loop is driver-side by design: the unit of work is a
config-supplied *file* (tens to thousands), not data rows. At scale the
data-plane work — report filtering and audit queries — stays in Spark;
translation itself is string rewriting whose cost is dwarfed by a
single executor round-trip.
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import SparkSession

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.orchestrate.reporting import TaskResult
from data_migration_tool_spark.tables import local_frame
from data_migration_tool_spark.translate.dml import translate_file
from data_migration_tool_spark.translate.dryrun import dry_run_statement
from data_migration_tool_spark.translate.executor import execute_ddl_fixpoint
from data_migration_tool_spark.translate.report import (
    split_translation_report,
    translated_files,
)
from data_migration_tool_spark.translate.statements import split_statements
from data_migration_tool_spark.translate.transpiler import transpile_ddl

_REPORT_SCHEMA = "file_path string, category string, message string"


def parse_name_mapping(config: dict) -> dict[str, str]:
    """Config ``nameMappingList`` → {source_schema: target_schema}.

    Accepts both the reference's Migration-API shape
    (``{"name_map": [{"source": {"schema": s}, "target": {"schema": t}}]}``
    — sampleconfig_for_ddl_sql_teradata.json) and a plain dict.
    """
    raw = config.get("nameMappingList") or {}
    if isinstance(raw, dict) and "name_map" in raw:
        out: dict[str, str] = {}
        for entry in raw["name_map"]:
            src = (entry.get("source") or {}).get("schema")
            tgt = (entry.get("target") or {}).get("schema")
            if src and tgt:
                out[src] = tgt
        return out
    if isinstance(raw, dict):
        return {str(k): str(v) for k, v in raw.items()}
    return {}


def _translation_dirs(config: dict) -> tuple[str, str]:
    details = (config.get("migrationTask") or {}).get(
        "translationConfigDetails", {}
    )
    src = details.get("sourcePath") or details.get("gcsSourcePath")
    tgt = details.get("targetPath") or details.get("gcsTargetPath")
    if not src or not tgt:
        raise ValueError("config missing translation sourcePath/targetPath")
    return src, tgt


def sql_translation_pipeline(spark: SparkSession, audit: AuditLog):
    """Build the ``batch_sql_translation`` pipeline callable for
    :class:`orchestrate.controller.Controller`."""

    def pipeline(config: dict) -> list[TaskResult]:
        op_type = config["type"]  # ddl | sql | dml
        dialect = config.get("source", "teradata")
        mode = "BTEQ" if str(config.get("batchDistribution", "")) == "bteq" else "SQL"
        mapping = parse_name_mapping(config)
        overrides = config.get("typeConvertList") or None
        rules = config.get("translationErrorFilterRules") or []
        unique_id = str(config.get("unique_id") or uuid.uuid4())
        in_dir, out_dir = _translation_dirs(config)
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)

        files = sorted(
            f for f in os.listdir(in_dir) if f.lower().endswith(".sql")
        )
        error_rows: list[tuple[str, str, str]] = []  # (file, category, msg)
        warn_count: dict[str, int] = {}
        translated_ddl: dict[str, list[str]] = {}  # file → spark DDL stmts

        for fname in files:
            with open(os.path.join(in_dir, fname)) as fh:
                content = fh.read()
            out_stmts: list[str] = []
            if op_type == "ddl":
                for stmt in split_statements(content, mode=mode):
                    if not stmt.strip():
                        continue
                    try:
                        t = transpile_ddl(
                            stmt, dialect, mapping, type_overrides=overrides
                        )
                        warn_count[fname] = warn_count.get(fname, 0) + len(
                            t.warnings
                        )
                        out_stmts.append(t.spark_sql(if_not_exists=True))
                    except ValueError as e:
                        error_rows.append((fname, "transpile", str(e)[:500]))
                translated_ddl[fname] = out_stmts
            else:  # sql | dml — translate, then analyze-only dry run
                for t in translate_file(content, dialect, mapping, mode=mode):
                    warn_count[fname] = warn_count.get(fname, 0) + len(
                        t.warnings
                    )
                    res = dry_run_statement(spark, t.sql)
                    if res.status != "success":
                        error_rows.append(
                            (fname, f"dryrun:{res.statement_type}", res.error or "")
                        )
                    out_stmts.append(t.sql)
            with open(os.path.join(out_dir, fname), "w") as fh:
                fh.write(";\n".join(out_stmts) + ("\n" if out_stmts else ""))

        # ---- error report: rules → one predicate over driver-resident
        # frames (P7/U3); Catalyst folds the split of an empty report, so
        # a clean translation's split costs no job
        report_df = local_frame(spark, error_rows, _REPORT_SCHEMA)
        all_files_df = local_frame(spark, [(f,) for f in files], "file_path string")
        failed_df, _ignored = split_translation_report(report_df, rules)
        ok_df = translated_files(all_files_df, failed_df)
        failed_set = {r.file_path for r in failed_df.collect()}
        ok_files = [r.file_path for r in ok_df.collect()]

        # ---- schema path: execute successfully-translated DDL (schema_dag)
        ddl_errors: dict[str, str] = {}
        if op_type == "ddl":
            # target datasets from the name mapping (schema_dag.py:82-99)
            for tgt_schema in dict.fromkeys(mapping.values()):
                spark.sql(f"CREATE DATABASE IF NOT EXISTS `{tgt_schema}`")
            stmts = [s for f in ok_files for s in translated_ddl.get(f, [])]
            for r in execute_ddl_fixpoint(
                spark, stmts, audit=audit, run_id=unique_id
            ):
                if r.status == "fail":
                    ddl_errors[r.statement[:80]] = r.error or "execute failed"

        # ---- audit rows (batch_sql_translation.py:289-354)
        audit.insert_rows(
            "dmt_translation_results",
            [
                {
                    "unique_id": unique_id,
                    "input_file_name": f,
                    "status": "fail" if f in failed_set else "success",
                    "error_details": "; ".join(
                        m for (ff, _c, m) in error_rows if ff == f
                    )[:1000]
                    or None,
                    "warning_count": warn_count.get(f, 0),
                    "execution_start_time": now,
                }
                for f in files
            ],
        )
        audit.insert_rows(
            "dmt_translation_aggregated_results",
            [
                {
                    "unique_id": unique_id,
                    "total_files": len(files),
                    "successful_files": len(ok_files),
                    "failed_files": len(failed_set),
                    "execution_start_time": now,
                }
            ],
        )

        results = [
            TaskResult(
                f"translate:{f}",
                f not in failed_set,
                error_message="; ".join(
                    m for (ff, _c, m) in error_rows if ff == f
                )[:500]
                or None,
                dynamic=True,
            )
            for f in files
        ]
        results.extend(
            TaskResult(f"execute_ddl:{stmt}", False, err, dynamic=True)
            for stmt, err in ddl_errors.items()
        )
        return results

    return pipeline


def transfer_log_pipeline(spark: SparkSession, audit: AuditLog):
    """Build the ``transfer_run_log_*`` pipeline callable (reference
    teradata/redshift ``*_transfer_run_log_dag.py``): drain the run's
    log messages, mine jobwise + summary audit rows, append to the
    audit log.

    Log sources, in precedence order: ``config["logs"]`` (inline
    message dicts, e.g. already fetched), ``config["logFilePath"]`` (a
    JSON-lines file — the shape the reference itself writes to its
    logging bucket), or ``config["fetch_page"]`` (a callable drained
    via ``transfer_logs.fetch_paginated`` — the DTS-API path)."""
    import json as _json

    from data_migration_tool_spark.orchestrate import transfer_logs as TL

    def pipeline(config: dict) -> list[TaskResult]:
        logs = config.get("logs")
        if logs is None and config.get("logFilePath"):
            with open(config["logFilePath"]) as fh:
                logs = [_json.loads(ln) for ln in fh if ln.strip()]
        if logs is None and config.get("fetch_page"):
            logs = TL.fetch_paginated(
                config["fetch_page"], page_size=int(config.get("pageSize", 1000))
            )
        if logs is None:
            return [TaskResult("transfer_run_log", False, "no log source in config")]
        counts = TL.process_transfer_run(
            spark,
            audit,
            logs,
            unique_id=str(config.get("unique_id", "")),
            transfer_config_id=str(config.get("transfer_config_id", "")),
            transfer_run_id=str(config.get("run_id", "")),
        )
        return [
            TaskResult(
                f"transfer_run_log:jobwise={counts['jobwise_rows']}"
                f":summary={counts['summary_rows']}",
                True,
            )
        ]

    return pipeline
