"""Driver-resident control-plane frames.

Driver-held rows (the translation report, file lists, catalog metadata,
audit rows) become DataFrames through ``tables.local_frame`` and
``AuditLog.table``: Arrow tables that Spark plans as ``LocalRelation``s.
An ``AuditLog.table`` read must equal ``spark.read.parquet`` of the same
files exactly, and the folded plans over these frames must schedule no
job. The AuditLog-fed audit queries compute with Arrow on the driver;
each must equal its Spark form, rows and schema, and schedule no job.
"""

from __future__ import annotations

import ast
import datetime
import os
import sys
import threading
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS, AuditLog
from data_migration_tool_spark.audit.queries import (
    affected_tables_from_copy_status,
    dvt_passed_tables,
    files_in_window,
    latest_pass_copies,
    tables_to_load,
    validation_run_summary,
)
from data_migration_tool_spark.extract.catalog import columns_info, extract_catalog_ddls
from data_migration_tool_spark.partitioning import PAR_JOBS_MAX, par_jobs, scoped_conf
from data_migration_tool_spark.sources.incremental import incremental_append, stage_files
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


# ---------------------------------------------------------------- audit queries
# The Spark forms of the AuditLog-fed builders in ``audit.queries``,
# which now compute with Arrow on the driver: the reference for
# equivalence and the positive control of the job budget. The latest-run
# pick of ``tables_to_load`` is the reference's correlated MAX (every
# row at the max, then distinct), where the Spark form it replaced took
# one tied row by ``row_number``.

_DDL_COLS = ["database", "bq_dataset", "table", "format", "field_delimiter",
             "partition_flag", "cluster_flag"]


def _spark_tables_to_load(audit: AuditLog, rerun: bool = True):
    meta = audit.table("hive_ddl_metadata").filter(F.col("ddl_extracted") == "YES")
    mx = meta.groupBy("database", "table").agg(F.max("start_time").alias("__mx"))
    latest = (
        meta.join(mx, ["database", "table"])
        .filter(F.col("start_time") == F.col("__mx"))
        .select(*_DDL_COLS)
        .distinct()
    )
    if not rerun:
        return latest
    loaded = (
        audit.table("hive_bqload_audit")
        .filter(F.col("load_status") == "PASS")
        .select(F.col("hive_db_name").alias("database"), F.col("tablename").alias("table"))
    )
    return latest.join(loaded, ["database", "table"], "left_anti")


def _spark_dvt_passed_tables(audit: AuditLog):
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


def _spark_validation_run_summary(audit: AuditLog):
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


def _with_table_max(df, value, name: str):
    return df.withColumn(name, F.max(value).over(Window.partitionBy()))


def _spark_files_in_window(audit: AuditLog, lookback_days: int = 1):
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


def _spark_latest_pass_copies(audit: AuditLog):
    run_date = F.to_date("job_run_time")
    cs = _with_table_max(audit.table("hive_inc_load_table_list"), run_date, "__d")
    return cs.filter(
        (run_date == F.col("__d")) & (F.col("file_copy_status") == "PASS")
    ).drop("__d")


def _spark_affected_tables(audit: AuditLog):
    return _spark_latest_pass_copies(audit).select("hive_db", "bq_dataset", "table_name").distinct()


# (Arrow builder, its Spark form); both take only the AuditLog
PAIRS = [
    (tables_to_load, _spark_tables_to_load),
    (lambda a: tables_to_load(a, rerun=False), lambda a: _spark_tables_to_load(a, rerun=False)),
    (dvt_passed_tables, _spark_dvt_passed_tables),
    (validation_run_summary, _spark_validation_run_summary),
    (files_in_window, _spark_files_in_window),
    (lambda a: files_in_window(a, 2), lambda a: _spark_files_in_window(a, 2)),
    (latest_pass_copies, _spark_latest_pass_copies),
    (affected_tables_from_copy_status, _spark_affected_tables),
]


def _sorted_rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _assert_pairs_equal(audit: AuditLog) -> None:
    """Every builder equals its Spark form: rows, and the StructType
    with its nullability."""
    for arrow_form, spark_form in PAIRS:
        got, want = arrow_form(audit), spark_form(audit)
        assert got.schema == want.schema
        assert _sorted_rows(got) == _sorted_rows(want)


def _ddl(table: str, start_time, fmt: str = "parquet", database: str | None = "db",
         extracted: str = "YES"):
    return {"run_id": "r", "start_time": start_time, "database": database, "bq_dataset": database,
            "table": table, "format": fmt, "partition_flag": "N", "cluster_flag": "N",
            "ddl_extracted": extracted}


def _load(table: str, status: str, database: str | None = "db"):
    return {"hive_db_name": database, "tablename": table, "load_status": status, "run_id": "l"}


def _dvt(table: str | None, run_id: str | None, status: str | None):
    return {"source_table_name": table, "run_id": run_id, "validation_status": status}


def _pubsub(message_id: str, publish_time, data: str | None = None):
    return {"subscription_name": "s", "message_id": message_id, "publish_time": publish_time,
            "data": data or '{"name": "/l/db/t/%s.parquet", "bucket": "b"}' % message_id}


def _copy(path: str, table: str, status: str, run_time):
    return {"unique_id": "u", "job_run_time": run_time, "hive_db": "db", "bq_dataset": "db",
            "table_name": table, "source_path": path, "destination_path": f"/stage/{path}",
            "file_copy_status": status}


def test_audit_queries_of_empty_and_missing_tables(spark, tmp_path):
    """No audit table exists, then each exists alone: every builder
    equals its Spark form, and the empty ones are empty."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    _assert_pairs_equal(audit)
    assert all(arrow_form(audit).collect() == [] for arrow_form, _ in PAIRS)
    t0 = datetime.datetime(2026, 3, 4, 1, 0, 0)
    audit.insert_rows("hive_ddl_metadata", [_ddl("a", t0)])
    audit.insert_rows("dmt_dvt_results", [_dvt("db.a", "r1", "success")])
    _assert_pairs_equal(audit)
    assert [r.table for r in tables_to_load(audit).collect()] == ["a"]


def test_tables_to_load_with_duplicate_pass_loads(spark, tmp_path):
    """Ties at the max start_time keep every distinct tied row; a NULL
    start_time is never the max and a table whose start_times are all
    NULL has no latest run; a NULL database matches no max and no load;
    a table loaded PASS twice is excluded once; a later extraction that
    did not extract does not count."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    t0 = datetime.datetime(2026, 3, 4, 1, 0, 0)
    later = t0 + datetime.timedelta(hours=1)
    audit.insert_rows("hive_ddl_metadata", [
        _ddl("a", t0), _ddl("a", later), _ddl("a", later),  # duplicate latest row
        _ddl("b", later, "parquet"), _ddl("b", later, "csv"), _ddl("b", t0, "orc"),  # tie
        _ddl("c", t0), _ddl("c", None),
        _ddl("d", None), _ddl("d", None),
        _ddl("e", t0), _ddl("e", later, "csv", extracted="NO"),
        _ddl("f", t0, database=None),
        _ddl("g", t0),
    ])
    audit.insert_rows("hive_bqload_audit", [
        _load("a", "PASS"), _load("a", "PASS"), _load("c", "FAIL"),
        _load("f", "PASS", database=None), _load("g", "PASS", database="other"),
    ])
    _assert_pairs_equal(audit)
    assert sorted((r.table, r.format) for r in tables_to_load(audit).collect()) == [
        ("b", "csv"), ("b", "parquet"), ("c", "parquet"), ("e", "parquet"), ("g", "parquet")]
    assert sorted(r.table for r in tables_to_load(audit, rerun=False).collect()) == [
        "a", "b", "b", "c", "e", "g"]


def test_dvt_queries_match_spark_form(spark, tmp_path):
    """Per (table, run): a failure in one run does not hide a pass in
    another, NULL keys and statuses group as Spark groups them, and a
    NULL anti-join key matches no fail row."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    audit.insert_rows("dmt_dvt_results", [
        _dvt("db.a", "r1", "success"), _dvt("db.a", "r1", "success"),
        _dvt("db.a", "r2", "success"), _dvt("db.a", "r2", "fail"),
        _dvt("db.b", "r1", "fail"),
        _dvt("db.c", None, "success"), _dvt("db.c", None, "fail"),
        _dvt(None, "r1", "success"), _dvt("db.d", "r1", None),
    ])
    _assert_pairs_equal(audit)
    assert sorted(map(tuple, dvt_passed_tables(audit).collect()), key=repr) == sorted(
        [("db.a", "r1"), ("db.c", None), (None, "r1")], key=repr)
    summary = {(r.run_id, r.source_table_name): (r.n_validations, r.n_failed, r.table_status)
               for r in validation_run_summary(audit).collect()}
    assert summary[("r2", "db.a")] == (2, 1, "FAIL")
    assert summary[("r1", "db.d")] == (1, 0, "PASS")  # a NULL status is not a failure


def test_files_in_window_matches_spark_form(spark, tmp_path):
    """Ties at the max are all kept, a row exactly at ``max - lookback``
    is excluded, a NULL publish_time is neither the max nor in the
    window, and duplicate rows are listed once."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    mx = datetime.datetime(2026, 3, 4, 10, 0, 0, 123456)
    audit.insert_rows("hive_pubsub_audit", [
        _pubsub("tie1", mx), _pubsub("tie2", mx), _pubsub("tie2", mx),
        _pubsub("edge", mx - datetime.timedelta(days=1)),
        _pubsub("inside", mx - datetime.timedelta(days=1) + datetime.timedelta(microseconds=1)),
        _pubsub("old", mx - datetime.timedelta(days=3)),
        _pubsub("null", None),
    ])
    _assert_pairs_equal(audit)
    assert sorted(r.message_id for r in files_in_window(audit).collect()) == ["inside", "tie1", "tie2"]
    assert sorted(r.message_id for r in files_in_window(audit, 2).collect()) == [
        "edge", "inside", "tie1", "tie2"]


# payloads and what ``get_json_object(data, '$.name')`` makes of them
JSON_CASES = {
    '{"name": "a/b.csv", "bucket": "x"}': "a/b.csv",
    "not json": None,
    None: None,
    '{"bucket": "x"}': None,  # missing key
    '{"name": null}': None,
    '{"name": 7}': "7",
    '{"name": 1.5}': "1.5",
    '{"name": true}': "true",
    '{"name": {"x": [1, "é"]}}': '{"x":[1,"é"]}',
    '["name"]': None,  # top level is not an object
    '{"name": "a", "name": "b"}': "a",  # first key wins
    '{"name": "a\\u00e9\\n"} trailing': "aé\n",
    '{"name": NaN}': None,
    '{"name": "a",}': None,
}


def test_files_in_window_json_extraction_matches_spark(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    t0 = datetime.datetime(2026, 3, 4, 10, 0, 0)
    audit.insert_rows("hive_pubsub_audit", [
        dict(_pubsub(f"m{i}", t0), data=data) for i, data in enumerate(JSON_CASES)])
    _assert_pairs_equal(audit)
    got = {r.message_id: r.file_name for r in files_in_window(audit).collect()}
    assert [got[f"m{i}"] for i in range(len(JSON_CASES))] == list(JSON_CASES.values())


def test_latest_pass_copies_match_spark_form(spark, tmp_path):
    """Two run dates plus a FAIL row and a NULL run time: only the latest
    date's PASS files, and the latest date is taken over every copy row,
    so a later FAIL-only date selects nothing."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    d1 = datetime.datetime(2026, 3, 2, 12, 0, 0)
    d2 = datetime.datetime(2026, 3, 4, 9, 0, 0)
    audit.insert_rows("hive_inc_load_table_list", [
        _copy("a_old", "a", "PASS", d1), _copy("a1", "a", "PASS", d2),
        _copy("a1", "a", "PASS", d2 + datetime.timedelta(hours=5)),  # duplicate file, same day
        _copy("b1", "b", "PASS", d2), _copy("c_fail", "c", "FAIL", d2),
        _copy("n", "n", "PASS", None),
    ])
    _assert_pairs_equal(audit)
    assert sorted((r.table_name, r.destination_path) for r in latest_pass_copies(audit).collect()) == [
        ("a", "/stage/a1"), ("a", "/stage/a1"), ("b", "/stage/b1")]
    assert sorted(r.table_name for r in affected_tables_from_copy_status(audit).collect()) == ["a", "b"]

    audit.insert_rows("hive_inc_load_table_list", [
        _copy("d_fail", "d", "FAIL", d2 + datetime.timedelta(days=1))])
    _assert_pairs_equal(audit)
    assert latest_pass_copies(audit).collect() == []
    assert affected_tables_from_copy_status(audit).collect() == []


@pytest.mark.parametrize("zone,latest,dst_day", [
    ("America/New_York", ["t2", "t3", "t4"], True),
    ("Asia/Kolkata", ["t3", "t4"], False),
    ("GMT+8", ["t3", "t4"], False),
    ("-03:30", ["t1", "t2", "t3", "t4"], False),  # t1 runs at local midnight
])
def test_audit_queries_follow_session_time_zone(spark, tmp_path, zone, latest, dst_day):
    """``to_date(job_run_time)`` and ``publish_time - INTERVAL n DAY``
    follow the session time zone: copy rows either side of local
    midnight, and a window across the 2026-03-08 US DST change, whose
    day back is 23 hours in New York."""
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    runs = [datetime.datetime(2026, 3, 3, 3, 30)] + [
        datetime.datetime(2026, 3, 4, h, m) for h, m in ((3, 30), (12, 0), (20, 0), (23, 45))]
    audit.insert_rows("hive_inc_load_table_list", [
        _copy(f"f{i}", f"t{i}", "PASS", t) for i, t in enumerate(runs)])
    mx = datetime.datetime(2026, 3, 9, 6, 30)
    lo_ny = datetime.datetime(2026, 3, 8, 7, 30)  # 02:30 EDT a day back is 03:30 EDT
    audit.insert_rows("hive_pubsub_audit", [
        _pubsub("mx", mx), _pubsub("at_lo", lo_ny),
        _pubsub("past_lo", lo_ny + datetime.timedelta(microseconds=1)),
        _pubsub("at_day_back", mx - datetime.timedelta(days=1)),
    ])
    with scoped_conf(spark, {"spark.sql.session.timeZone": zone}):
        _assert_pairs_equal(audit)
        tables = sorted(r.table_name for r in latest_pass_copies(audit).collect())
        window = {r.message_id for r in files_in_window(audit).collect()}
    assert tables == latest
    assert window == ({"mx", "past_lo"} if dst_day else {"mx", "past_lo", "at_lo"})


# ---------------------------------------------------------------- job budget

def _catalog_db(spark, db: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    spark.sql(f"CREATE TABLE {db}.t1 (a INT, b STRING, p INT) USING parquet PARTITIONED BY (p)")
    spark.sql(f"CREATE TABLE {db}.t2 (a BIGINT) USING csv OPTIONS (sep '|')")


def test_control_plane_job_budget(spark, tmp_path):
    """The catalog walk and ``columns_info`` schedule no job, nor does a
    collect of any AuditLog-fed audit query or ``stage_files``; each
    Spark form of those queries schedules at least one.
    ``incremental_append`` schedules one job per table: its append."""
    import pyarrow as pa
    import pyarrow.parquet as pq

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
    landing = tmp_path / "landing" / "db"
    drops = []
    for t in ("a", "b"):
        for i in range(2):
            p = landing / t / f"{t}{i}.parquet"
            p.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table({"id": [i]}), p)
            drops.append(str(p))
    audit.insert_rows("hive_pubsub_audit", [
        _pubsub(f"m{i}", t0, '{"name": "%s"}' % p) for i, p in enumerate(drops)])
    audit.insert_rows("hive_bqload_audit", [_load("t1", "PASS", database=db)])
    audit.insert_rows("dmt_dvt_results", [
        _dvt("db.a", "r1", "success"), _dvt("db.b", "r1", "fail")])
    staged = []
    assert _jobs(spark, lambda: staged.extend(
        stage_files(audit, str(tmp_path / "staging"), run_time=t0))) == 0
    assert [r["file_copy_status"] for r in staged] == ["PASS"] * 4

    for arrow_form, spark_form in PAIRS:
        assert _jobs(spark, lambda: arrow_form(audit).collect()) == 0
        assert _jobs(spark, lambda: spark_form(audit).collect()) >= 1
    loaded = {}
    assert _jobs(spark, lambda: loaded.update(
        incremental_append(spark, audit, str(tmp_path / "wh")))) == 2
    assert loaded == {"db.a": 2, "db.b": 2}


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
