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

import pytest

from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS, AuditLog
from data_migration_tool_spark.partitioning import scoped_conf
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
