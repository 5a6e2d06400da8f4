"""Incremental (time-windowed) load pipeline (SURVEY S6/S13, ST2-ST4;
reference ``hive_bq_load_utils_inc.py`` + ``hive_inc_data_load_dag.py``).

Semantics mirrored from the reference:
1. consume file-arrival records whose publish_time falls in the schedule
   window (1-day lookback from the latest record — constants.py:84-90);
2. parse ``db/table`` from each path and verify the table exists
   (``hive_bq_load_utils_inc.py:82-139``);
3. copy files into dated staging, one copy-status audit row per file
   (``:193-278``);
4. derive the affected-table list from PASS copy rows
   (constants.py:92-100) and append-load per table (``:542-667``).

The append itself is idempotent per (run, file): rerunning skips files
already marked PASS for the same dated staging path (ST4's
exactly-once-ish dedup via audit anti-join).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import uuid

from pyspark.sql import SparkSession

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.audit.queries import pass_copies, window_files
from data_migration_tool_spark.sources.readers import read_table

# db/table from "<prefix>/<db>/<table>/<file>" (reference parses GCS
# object names the same way, hive_bq_load_utils_inc.py:82-115)
_PATH_RE = re.compile(r"(?:^|/)([^/]+)/([^/]+)/[^/]+$")


def parse_db_table(path: str) -> tuple[str, str] | None:
    m = _PATH_RE.search(path)
    return (m.group(1), m.group(2)) if m else None


def stage_files(
    audit: AuditLog,
    staging_root: str,
    run_time: datetime.datetime | None = None,
    lookback_days: int = 1,
    known_tables: set[tuple[str, str]] | None = None,
) -> list[dict]:
    """Steps 1-3: window query → path parse → copy to dated staging with
    per-file status rows. Returns the copy-status rows written."""
    run_time = run_time or datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    unique_id = uuid.uuid4().hex
    date_dir = run_time.strftime("%Y%m%d")
    rows = []
    already = {
        (r["source_path"], r["destination_path"])
        for r in pass_copies(audit).select(["source_path", "destination_path"]).to_pylist()
    }
    for r in window_files(audit, lookback_days).to_pylist():
        src = r["file_name"]
        parsed = parse_db_table(src)
        t0 = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        if parsed is None:
            status, db, tbl, dst = "FAIL", None, None, None
        else:
            db, tbl = parsed
            if known_tables is not None and (db, tbl) not in known_tables:
                status, dst = "FAIL", None
            else:
                dst = os.path.join(staging_root, date_dir, db, tbl, os.path.basename(src))
                if (src, dst) in already:
                    continue  # rerun: already copied for this window
                try:
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copy(src, dst)
                    status = "PASS"
                except OSError:
                    status = "FAIL"
        rows.append(
            {
                "unique_id": unique_id,
                "job_run_time": run_time,
                "load_start_time": t0,
                "load_end_time": datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
                "hive_db": db,
                "bq_dataset": db,
                "table_name": tbl,
                "source_path": src,
                "destination_path": dst,
                "file_copy_status": status,
            }
        )
    if rows:
        audit.insert_rows("hive_inc_load_table_list", rows)
    return rows


def incremental_append(
    spark: SparkSession,
    audit: AuditLog,
    warehouse: str,
    fmt: str = "parquet",
    delimiter: str | None = None,
    schema_ddl: str | None = None,
) -> dict[str, int]:
    """Step 4: per affected table, append-load every staged file from the
    latest run date. Returns {db.table: files_loaded}. The affected
    tables are those of the PASS files of ``pass_copies(latest=True)``,
    the selection behind ``affected_tables_from_copy_status``, so the
    audit table is read once and each table costs one job: its append."""
    by_table: dict[tuple[str, str], list[str]] = {}
    for f in pass_copies(audit, latest=True).to_pylist():
        paths = by_table.setdefault((f["hive_db"], f["table_name"]), [])
        if f["destination_path"] not in paths:
            paths.append(f["destination_path"])
    loaded: dict[str, int] = {}
    for (db, tbl), paths in by_table.items():
        df = read_table(spark, paths, fmt=fmt, delimiter=delimiter, schema_ddl=schema_ddl)
        df.write.mode("append").parquet(os.path.join(warehouse, db, tbl))
        loaded[f"{db}.{tbl}"] = len(paths)
    return loaded
