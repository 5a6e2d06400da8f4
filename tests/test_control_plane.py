"""Driver-resident control-plane frames.

Driver-held rows (the translation report, file lists, catalog metadata,
audit rows) become DataFrames through ``tables.local_frame`` and
``AuditLog.table``: Arrow tables that Spark plans as ``LocalRelation``s.
An ``AuditLog.table`` read must equal ``spark.read.parquet`` of the same
files exactly, and the folded plans over these frames must schedule no
job.
"""

from __future__ import annotations

import ast
import datetime
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS, AuditLog
from data_migration_tool_spark.audit.queries import (
    affected_tables_from_copy_status,
    files_in_window,
    latest_pass_copies,
    tables_to_load,
)
from data_migration_tool_spark.extract.catalog import columns_info, extract_catalog_ddls
from data_migration_tool_spark.partitioning import PAR_JOBS_MAX, par_jobs, scoped_conf
from data_migration_tool_spark.tables import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.profile_jobs import _marker_job_id  # noqa: E402

INT96 = {"spark.sql.parquet.outputTimestampType": "INT96"}


def _value(field, i: int):
    """A value for ``field`` in row ``i``; row 2 is all NULL, and the
    nested arrays hold a NULL element and a struct with a NULL field."""
    from pyspark.sql import types as T

    if i == 2:
        return None
    dt = field.dataType
    if isinstance(dt, T.StringType):
        return f"{field.name}-{i}"
    if isinstance(dt, T.TimestampType):
        return datetime.datetime(2026, 1, 1 + i, 12, 30, 15, 123456)
    if isinstance(dt, (T.IntegerType, T.LongType)):
        return 7 * i + 1
    if isinstance(dt, T.DoubleType):
        return i + 0.25
    if isinstance(dt, T.ArrayType):
        names = dt.elementType.names
        return [None, {n: (None if j == 0 else f"{n}-{i}") for j, n in enumerate(names)}]
    raise AssertionError(f"no sample for {field}")


def _rows(schema) -> list[dict]:
    return [{f.name: _value(f, i) for f in schema} for i in range(3)]


def _assert_read_equal(spark, audit: AuditLog, table: str) -> None:
    got = audit.table(table)
    want = spark.read.parquet(audit.path(table))
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("table", sorted(KNOWN_SCHEMAS))
def test_audit_table_equals_spark_read(spark, tmp_path, table):
    """One pyarrow-written part (``insert_rows``) and two Spark-written
    parts, one with INT64 micros and one with INT96 timestamps."""
    schema = KNOWN_SCHEMAS[table]
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    audit.insert_rows(table, _rows(schema))
    spark_rows = local_frame(spark, _rows(schema), schema)
    audit.insert_df(table, spark_rows)
    with scoped_conf(spark, INT96):
        audit.insert_df(table, spark_rows)
    _assert_read_equal(spark, audit, table)
    assert audit.table(table).count() == 9


def test_audit_table_of_unknown_schema_equals_spark_read(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    df = spark.sql(
        """SELECT CAST(id AS DECIMAL(12, 2)) AS d, DATE'2020-01-01' AS dt,
                  map('a', CAST(id AS INT), 'b', CAST(NULL AS INT)) AS m,
                  array(id, NULL) AS arr, named_struct('x', id, 'y', 'z') AS st,
                  CAST('ab' AS BINARY) AS b, id % 2 = 0 AS bo,
                  CAST(id AS SHORT) AS sh, CAST(id AS BYTE) AS by,
                  TIMESTAMP_NTZ'2020-01-01 01:02:03' AS ntz,
                  TIMESTAMP'2020-01-01 01:02:03.5' AS ts, CAST(id AS FLOAT) AS fl
           FROM range(3)"""
    )
    audit.insert_df("unknown", df)
    with scoped_conf(spark, INT96):
        audit.insert_df("unknown", df)
    _assert_read_equal(spark, audit, "unknown")


def test_empty_audit_table_is_its_known_schema(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    df = audit.table("dmt_dvt_results")
    assert df.schema == KNOWN_SCHEMAS["dmt_dvt_results"] and df.collect() == []
    with pytest.raises(FileNotFoundError):
        audit.table("unknown")
    with pytest.raises(KeyError):
        audit.insert_rows("unknown", [{"a": 1}])


def _jobs(spark, fn) -> int:
    """Jobs scheduled by ``fn``, between two marker jobs."""
    before = _marker_job_id(spark)
    fn()
    return _marker_job_id(spark) - before - 1


def test_control_plane_frames_schedule_no_job(spark, tmp_path):
    from data_migration_tool_spark.translate.report import (
        split_translation_report,
        translated_files,
    )

    # positive control: the same rows as a parallelized Python list
    listed = spark.createDataFrame([("a.sql",)], "file_path string")
    assert _jobs(spark, lambda: listed.filter("file_path = 'a.sql'").collect()) >= 1

    # the translation report split of a clean translation (no error rows)
    report = local_frame(spark, [], "file_path string, category string, message string")
    files = local_frame(spark, [("a.sql",), ("b.sql",)], "file_path string")
    rules = [{"field": "category", "value": "dryrun:select"}]
    failed, _ignored = split_translation_report(report, rules)
    ok = translated_files(files, failed)
    assert _jobs(spark, lambda: (failed.collect(), ok.collect())) == 0
    assert sorted(r.file_path for r in ok.collect()) == ["a.sql", "b.sql"]

    # an audit read over one pyarrow-written and one Spark-written part
    table = "hive_inc_load_table_list"
    schema = KNOWN_SCHEMAS[table]
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    audit.insert_rows(table, _rows(schema))
    audit.insert_df(table, local_frame(spark, _rows(schema), schema))
    got = []
    assert _jobs(spark, lambda: got.extend(
        audit.table(table).filter("file_copy_status = 'file_copy_status-1'")
        .select("source_path").collect()
    )) == 0
    assert [r.source_path for r in got] == ["source_path-1"] * 2


# Package code where driver-held rows must go through ``local_frame``.
CONTROL_PLANE = ("orchestrate", "audit", "extract/catalog.py", "operators/validation.py")


def _list_fed_create_calls(source: str) -> list[str]:
    """``createDataFrame`` calls whose data argument is a Python list: a
    list display or comprehension (also inside ``x or []``), or a name
    that its function binds to one, appends to, or annotates as a list."""

    def listy(node) -> bool:
        if isinstance(node, (ast.List, ast.ListComp, ast.Tuple, ast.GeneratorExp)):
            return True
        if isinstance(node, ast.BoolOp):
            return any(listy(v) for v in node.values)
        return False

    found = {}  # line → call; a nested function's call is met twice
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        lists = {
            a.arg for a in fn.args.args + fn.args.kwonlyargs
            if a.annotation is not None and "list" in ast.unparse(a.annotation)
        }
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and listy(node.value):
                lists |= {t.id for t in node.targets if isinstance(t, ast.Name)}
            if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name) and (
                "list" in ast.unparse(node.annotation) or (node.value and listy(node.value))
            ):
                lists.add(node.target.id)
            if (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("append", "extend")
                and isinstance(node.func.value, ast.Name)
            ):
                lists.add(node.func.value.id)
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame" and node.args
            ):
                continue
            data = node.args[0]
            if listy(data) or (isinstance(data, ast.Name) and data.id in lists):
                found.setdefault(node.lineno, f"{node.lineno}: {ast.unparse(node)}")
    return list(found.values())


def test_no_list_fed_create_dataframe_in_control_plane():
    """Driver-held rows in the control plane go through
    ``tables.local_frame``: ``createDataFrame`` of a Python list
    parallelizes it into a ``LogicalRDD``, which Catalyst cannot fold,
    so every action over it schedules jobs again."""
    # positive controls: the shapes this replaced are caught
    assert len(_list_fed_create_calls(
        "def f(spark, files):\n"
        "    rows = []\n"
        "    rows.append((1,))\n"
        "    a = spark.createDataFrame(rows, 's int')\n"
        "    b = spark.createDataFrame(errs or [], 's int')\n"
        "    c = spark.createDataFrame([(f,) for f in files], 's string')\n"
    )) == 3 and len(_list_fed_create_calls(
        "def g(spark, rows: list[dict]):\n    return spark.createDataFrame(rows)\n"
    )) == 1

    pkg = os.path.join(ROOT, "data_migration_tool_spark")
    bad = []
    for entry in CONTROL_PLANE:
        path = os.path.join(pkg, entry)
        files = [path] if path.endswith(".py") else [
            os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns if n.endswith(".py")
        ]
        for f in files:
            bad += [f"{os.path.relpath(f, pkg)}:{c}" for c in _list_fed_create_calls(open(f).read())]
    assert not bad, "list-fed createDataFrame in the control plane:\n" + "\n".join(bad)


# ---------------------------------------------------------------- window queries
# The crossJoin(broadcast(agg)) shapes that ``files_in_window`` and
# ``latest_pass_copies`` replaced: the reference for equivalence and the
# positive control of the job budget.

def _cross_join_files_in_window(audit: AuditLog, lookback_days: int = 1):
    pubsub = audit.table("hive_pubsub_audit")
    mx = pubsub.agg(F.max("publish_time").alias("mx"))
    return (
        pubsub.crossJoin(F.broadcast(mx))
        .filter(
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


def _cross_join_latest_pass_files(audit: AuditLog):
    cs = audit.table("hive_inc_load_table_list")
    latest = cs.agg(F.max(F.to_date("job_run_time")).alias("d"))
    return (
        cs.crossJoin(F.broadcast(latest))
        .filter(
            (F.to_date("job_run_time") == F.col("d"))
            & (F.col("file_copy_status") == "PASS")
        )
        .select("hive_db", "table_name", "destination_path")
        .distinct()
    )


def _latest_pass_files(audit: AuditLog):
    """The PASS-file list ``incremental_append`` collects."""
    return latest_pass_copies(audit).select("hive_db", "table_name", "destination_path").distinct()


def _sorted_rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _pubsub(message_id: str, publish_time):
    return {"subscription_name": "s", "message_id": message_id, "publish_time": publish_time,
            "data": '{"name": "/l/db/t/%s.parquet", "bucket": "b"}' % message_id}


def _copy(path: str, table: str, status: str, run_time):
    return {"unique_id": "u", "job_run_time": run_time, "hive_db": "db", "bq_dataset": "db",
            "table_name": table, "source_path": path, "destination_path": f"/stage/{path}",
            "file_copy_status": status}


def test_files_in_window_matches_cross_join_form(spark, tmp_path):
    """Ties at the max are all kept, a row exactly at ``max - lookback``
    is excluded, and a NULL publish_time is neither the max nor in the
    window; an empty audit table gives no files."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    assert files_in_window(audit).collect() == [] == _cross_join_files_in_window(audit).collect()

    mx = datetime.datetime(2026, 3, 4, 10, 0, 0, 123456)
    audit.insert_rows("hive_pubsub_audit", [
        _pubsub("tie1", mx), _pubsub("tie2", mx),
        _pubsub("edge", mx - datetime.timedelta(days=1)),
        _pubsub("inside", mx - datetime.timedelta(days=1) + datetime.timedelta(microseconds=1)),
        _pubsub("old", mx - datetime.timedelta(days=3)),
        _pubsub("null", None),
    ])
    for days in (1, 2):
        got = files_in_window(audit, days)
        assert _sorted_rows(got) == _sorted_rows(_cross_join_files_in_window(audit, days))
    assert sorted(r.message_id for r in files_in_window(audit).collect()) == ["inside", "tie1", "tie2"]
    assert sorted(r.message_id for r in files_in_window(audit, 2).collect()) == [
        "edge", "inside", "tie1", "tie2"]


def test_latest_pass_copies_match_cross_join_form(spark, tmp_path):
    """Two run dates plus a FAIL row: only the latest date's PASS files,
    and the latest date is taken over every copy row."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    d1 = datetime.datetime(2026, 3, 2, 12, 0, 0)
    d2 = datetime.datetime(2026, 3, 4, 9, 0, 0)
    audit.insert_rows("hive_inc_load_table_list", [
        _copy("a_old", "a", "PASS", d1), _copy("a1", "a", "PASS", d2),
        _copy("a1", "a", "PASS", d2 + datetime.timedelta(hours=5)),  # duplicate file, same day
        _copy("b1", "b", "PASS", d2), _copy("c_fail", "c", "FAIL", d2),
    ])
    assert _sorted_rows(_latest_pass_files(audit)) == _sorted_rows(_cross_join_latest_pass_files(audit))
    assert sorted((r.table_name, r.destination_path) for r in _latest_pass_files(audit).collect()) == [
        ("a", "/stage/a1"), ("b", "/stage/b1")]
    assert sorted(r.table_name for r in affected_tables_from_copy_status(audit).collect()) == ["a", "b"]

    # a later date with only a FAIL copy selects nothing
    audit.insert_rows("hive_inc_load_table_list", [
        _copy("d_fail", "d", "FAIL", d2 + datetime.timedelta(days=1))])
    assert _latest_pass_files(audit).collect() == [] == _cross_join_latest_pass_files(audit).collect()
    assert affected_tables_from_copy_status(audit).collect() == []


def test_tables_to_load_with_duplicate_pass_loads(spark, tmp_path):
    """A table loaded PASS twice is excluded once; the other tables of the
    latest extraction are each listed once."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    t0 = datetime.datetime(2026, 3, 4, 1, 0, 0)
    audit.insert_rows("hive_ddl_metadata", [
        {"run_id": f"r{i}", "start_time": t0 + datetime.timedelta(hours=i), "database": "db",
         "bq_dataset": "db", "table": t, "format": "parquet", "partition_flag": "N",
         "cluster_flag": "N", "ddl_extracted": "YES"}
        for i in range(2) for t in ("a", "b", "c")
    ])
    audit.insert_rows("hive_bqload_audit", [
        {"hive_db_name": "db", "tablename": "a", "load_status": "PASS", "run_id": "l1"},
        {"hive_db_name": "db", "tablename": "a", "load_status": "PASS", "run_id": "l2"},
        {"hive_db_name": "db", "tablename": "b", "load_status": "FAIL", "run_id": "l1"},
    ])
    assert sorted(r.table for r in tables_to_load(audit).collect()) == ["b", "c"]
    assert sorted(r.table for r in tables_to_load(audit, rerun=False).collect()) == ["a", "b", "c"]


# ---------------------------------------------------------------- job budget

def _catalog_db(spark, db: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    spark.sql(f"CREATE TABLE {db}.t1 (a INT, b STRING, p INT) USING parquet PARTITIONED BY (p)")
    spark.sql(f"CREATE TABLE {db}.t2 (a BIGINT) USING csv OPTIONS (sep '|')")


def test_control_plane_job_budget(spark, tmp_path):
    """The catalog walk and ``columns_info`` schedule no job, and each
    window query's collect schedules at most 2, against 4 for the
    crossJoin shape they replaced."""
    db = "dmt_job_budget"
    _catalog_db(spark, db)
    try:
        audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
        metas = []
        assert _jobs(spark, lambda: metas.extend(
            extract_catalog_ddls(spark, db, str(tmp_path / "ddl"), audit=audit))) == 0
        assert [m.table for m in metas] == ["t1", "t2"]
        assert _jobs(spark, lambda: columns_info(spark, db).collect()) == 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    t0 = datetime.datetime(2026, 3, 4, 1, 0, 0)
    audit.insert_rows("hive_pubsub_audit", [_pubsub(f"m{i}", t0) for i in range(3)])
    audit.insert_rows("hive_inc_load_table_list", [
        _copy("a1", "a", "PASS", t0), _copy("a0", "a", "PASS", t0 - datetime.timedelta(days=2))])
    # positive control: the replaced shape
    assert _jobs(spark, lambda: _cross_join_files_in_window(audit).collect()) == 4
    assert _jobs(spark, lambda: _cross_join_latest_pass_files(audit).collect()) == 4
    assert _jobs(spark, lambda: files_in_window(audit).collect()) <= 2
    assert _jobs(spark, lambda: _latest_pass_files(audit).collect()) <= 2


# ---------------------------------------------------------------- catalog guard

def _catalog_listing_calls(source: str) -> list[str]:
    """``<x>.catalog.listTables(...)`` / ``<x>.catalog.listColumns(...)``
    calls: both run their result through ``toLocalIterator`` (jobs)."""
    return [
        f"{node.lineno}: {ast.unparse(node)}"
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("listTables", "listColumns")
        and isinstance(node.func.value, ast.Attribute) and node.func.value.attr == "catalog"
    ]


def test_no_catalog_listing_calls_in_package():
    """Package code lists tables with ``SHOW TABLES`` and reads columns
    from table metadata, which schedule no job."""
    # positive control: the listing loops this replaced are caught
    assert len(_catalog_listing_calls(
        "def f(spark, database):\n"
        "    for t in spark.catalog.listTables(database):\n"
        "        for c in spark.catalog.listColumns(f'{database}.{t.name}'):\n"
        "            pass\n"
    )) == 2

    pkg = os.path.join(ROOT, "data_migration_tool_spark")
    bad = [
        f"{os.path.relpath(os.path.join(d, n), pkg)}:{c}"
        for d, _, ns in os.walk(pkg) for n in ns if n.endswith(".py")
        for c in _catalog_listing_calls(open(os.path.join(d, n)).read())
    ]
    assert not bad, "catalog listing calls in the package:\n" + "\n".join(bad)


# ---------------------------------------------------------------- par_jobs

def test_par_jobs_bounds_its_pool():
    """20 thunks never run more than ``PAR_JOBS_MAX`` at once, results
    keep thunk order, and ``max_workers`` lowers the bound."""
    lock = threading.Lock()
    running = peak = 0

    def thunk(i):
        nonlocal running, peak
        with lock:
            running += 1
            peak = max(peak, running)
        time.sleep(0.02)
        with lock:
            running -= 1
        return i

    assert par_jobs(*[lambda i=i: thunk(i) for i in range(20)]) == list(range(20))
    assert 1 < peak <= PAR_JOBS_MAX == 8
    peak = 0
    assert par_jobs(*[lambda i=i: thunk(i) for i in range(20)], max_workers=1) == list(range(20))
    assert peak == 1
    assert par_jobs() == []
