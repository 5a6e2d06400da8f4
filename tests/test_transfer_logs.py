"""Transfer-run log mining (SURVEY F7 heaviest instance + PU3;
reference teradata_transfer_run_log_dag.py:190-234 paginated fetch,
:281-470 extractor bank, redshift_transfer_run_log_dag.py:250-360)."""

from __future__ import annotations

import json
import os
import sys

import pytest

from data_migration_tool_spark.audit.log import AuditLog
from data_migration_tool_spark.orchestrate import transfer_logs as TL
from data_migration_tool_spark.orchestrate.controller import Controller
from data_migration_tool_spark.orchestrate.pipelines import transfer_log_pipeline

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.profile_jobs import _marker_job_id  # noqa: E402

FIXTURE_LOGS = [
    {"severity": "INFO", "messageText": "Transfer load date: 20260814"},
    {"severity": "INFO", "messageText": "Agent agent-1. EXTRACT (src_db.orders): Running in FastExport data transfer mode."},
    {"severity": "INFO", "messageText": "Agent agent-1. EXTRACT (src_db.orders): orders: Extracting data for table (approximate 128 MB) with partitions: [0,1] into 4 files with 2 sessions."},
    {"severity": "INFO", "messageText": "Agent agent-1. EXTRACT (src_db.orders): Uploading extracted files to gs://dmt-staging/orders/part-0.csv."},
    {"severity": "INFO", "messageText": "Agent agent-1. EXTRACT (src_db.orders): Finished extracting data. Duration: 97 seconds"},
    {"severity": "INFO", "messageText": "Job bq_job_7 (table orders) completed. Number of records: 15000, errors: 3."},
    {"severity": "ERROR", "messageText": "Agent agent-2. Skipping corrupt source table (lineitem) schema drift detected."},
    {"severity": "ERROR", "messageText": "Job bq_job_9 (table customer) failed with quota exceeded."},
    {"severity": "ERROR", "messageText": "Transfer run aborted by service."},
    {"severity": "INFO", "messageText": "Summary: succeeded 8 jobs, failed 2 jobs."},
]


# ------------------------------------------------------------- pagination

def test_fetch_paginated_drains_all_pages():
    pages = {None: (list(range(3)), "p2"), "p2": ([3, 4], "p3"), "p3": ([5], None)}
    calls = []

    def fetch(token, size):
        calls.append((token, size))
        items, nxt = pages[token]
        return [{"i": i} for i in items], nxt

    out = TL.fetch_paginated(fetch, page_size=10)
    assert [d["i"] for d in out] == [0, 1, 2, 3, 4, 5]
    assert calls == [(None, 10), ("p2", 10), ("p3", 10)]


def test_fetch_paginated_refuses_infinite_paging():
    with pytest.raises(RuntimeError, match="still paging"):
        TL.fetch_paginated(lambda tok, n: ([], "again"), max_pages=5)


# ---------------------------------------------------------- extractor bank

def test_mine_job_stats_recovers_planted_values(spark):
    rows = {
        r["src_table_name"]: r.asDict()
        for r in TL.mine_job_stats(
            TL.logs_to_df(spark, FIXTURE_LOGS), "u1", "cfg1", "run1"
        ).collect()
    }
    assert set(rows) == {"orders", "lineitem", "customer"}

    o = rows["orders"]
    assert o["agent_id"] == "agent-1"
    assert o["bq_job_id"] == "bq_job_7"
    assert o["transfer_mode"] == "FastExport"
    assert o["extract_data_size"] == "128 MB"
    assert o["extract_partitions"] == "[0,1]"
    assert o["extract_files"] == 4
    assert o["extract_sessions"] == 2
    assert o["extract_duration"] == "97 seconds"
    assert o["gcs_file_path"] == "gs://dmt-staging/orders/part-0.csv"
    assert o["success_records"] == 15000
    assert o["error_records"] == 3
    assert o["run_date"] == "20260814"
    assert o["transfer_run_state"] == "SUCCEEDED"
    # job_status = template state at FIRST mention (reference copies the
    # template when a table is first seen): orders first appears on an
    # INFO line, so later ERROR lines don't flip it
    assert o["job_status"] == "SUCCEEDED"

    assert rows["lineitem"]["transfer_run_state"] == "SKIPPED"
    assert rows["lineitem"]["agent_id"] == "agent-2"
    assert rows["lineitem"]["job_status"] == "FAILED"  # first seen on ERROR
    assert rows["customer"]["transfer_run_state"] == "FAILED"
    assert rows["customer"]["job_status"] == "FAILED"
    # teradata quirk mirrored: the ERROR-Job branch writes the job id
    # into agent_id (reference :327); bq_job_id only comes from the
    # Number-of-records line, which customer never got
    assert rows["customer"]["agent_id"] == "bq_job_9"
    assert rows["customer"]["bq_job_id"] is None
    assert "quota exceeded" in rows["customer"]["message"]


def test_mine_job_stats_redshift_variant(spark):
    """Redshift dialect (redshift_transfer_run_log_dag.py:250-360): no
    agent lines parsed at all, errors attributed by Job id into
    bq_job_id, Agent-shaped ERROR lines are unattributed and become the
    summary's error_message."""
    rows = {
        r["src_table_name"]: r.asDict()
        for r in TL.mine_job_stats(
            TL.logs_to_df(spark, FIXTURE_LOGS), variant="redshift"
        ).collect()
    }
    # lineitem's only line is an Agent ERROR — not a table in redshift
    assert set(rows) == {"orders", "customer"}
    o = rows["orders"]
    assert o["bq_job_id"] == "bq_job_7" and o["success_records"] == 15000
    assert o["agent_id"] is None  # no agent concept
    assert o["transfer_mode"] is None  # no EXTRACT lines parsed
    assert o["job_status"] == "SUCCEEDED"
    c = rows["customer"]
    assert c["bq_job_id"] == "bq_job_9" and c["agent_id"] is None
    assert c["job_status"] == "FAILED"
    s = TL.mine_run_summary(
        TL.logs_to_df(spark, FIXTURE_LOGS), variant="redshift"
    ).collect()[0]
    # first unattributed ERROR — under redshift that's the Agent line
    assert s.error_message.startswith("Agent agent-2. Skipping")
    assert s.agent_id is None
    assert s.succeeded_jobs == 8 and s.failed_jobs == 2


def test_mine_run_summary(spark):
    s = TL.mine_run_summary(
        TL.logs_to_df(spark, FIXTURE_LOGS), "u1", "cfg1", "run1"
    ).collect()[0]
    assert s.succeeded_jobs == 8
    assert s.failed_jobs == 2
    assert s.run_date == "20260814"
    assert s.transfer_run_status == "FAILED"
    # last 'Finished extracting' line's agent (reference last-writer-wins)
    assert s.agent_id == "agent-1"
    # first ERROR line with neither Agent nor Job attribution
    assert s.error_message == "Transfer run aborted by service."


def test_clean_run_summary_succeeds(spark):
    clean = [l for l in FIXTURE_LOGS if l["severity"] == "INFO"]
    s = TL.mine_run_summary(TL.logs_to_df(spark, clean)).collect()[0]
    assert s.transfer_run_status == "SUCCEEDED"
    assert s.error_message is None
    j = TL.mine_job_stats(TL.logs_to_df(spark, clean)).collect()
    assert all(r.job_status == "SUCCEEDED" for r in j)


# ------------------------------------------------- controller integration

def test_transfer_run_finished_event_mines_audit_rows(spark, tmp_path):
    log_file = tmp_path / "run_123.jsonl"
    log_file.write_text("\n".join(json.dumps(l) for l in FIXTURE_LOGS))

    audit = AuditLog(spark, str(tmp_path / "logs"))
    ctl = Controller(audit)
    ctl.register("transfer_run_log_teradata", transfer_log_pipeline(spark, audit))
    status = ctl.handle(
        "TRANSFER_RUN_FINISHED",
        {
            "dataSourceId": "on_premises",
            "logFilePath": str(log_file),
            "unique_id": "u-99",
            "run_id": "run-123",
        },
    )
    assert status == "Success"
    jobwise = audit.table(TL.JOBWISE_TABLE)
    assert jobwise.count() == 3
    assert {r.unique_id for r in jobwise.collect()} == {"u-99"}
    summary = audit.table(TL.SUMMARY_TABLE).collect()
    assert len(summary) == 1 and summary[0].failed_jobs == 2


def test_process_transfer_run_counts_schedule_no_job(spark, tmp_path):
    """``process_transfer_run`` returns the audit tables' sizes, counted
    on their Arrow form: the two counts after the last insert schedule
    no job, where a Spark ``count()`` over the same frame schedules
    some."""
    audit = AuditLog(spark, str(tmp_path / "logs"))
    after_inserts = []
    insert_df = audit.insert_df

    def insert_then_mark(table, df):
        insert_df(table, df)
        if table == TL.SUMMARY_TABLE:
            after_inserts.append(_marker_job_id(spark))

    audit.insert_df = insert_then_mark
    counts = TL.process_transfer_run(spark, audit, FIXTURE_LOGS, unique_id="u-1")
    assert _marker_job_id(spark) - after_inserts[0] - 1 == 0
    assert counts == {
        "jobwise_rows": len(audit.table(TL.JOBWISE_TABLE).collect()),
        "summary_rows": len(audit.table(TL.SUMMARY_TABLE).collect()),
    } == {"jobwise_rows": 3, "summary_rows": 1}

    # positive control: the Spark count the Arrow one replaced
    before = _marker_job_id(spark)
    audit.table(TL.JOBWISE_TABLE).count()
    assert _marker_job_id(spark) - before - 1 >= 1
