from __future__ import annotations

from pyspark.sql import functions as F

from data_migration_tool_spark.operators.spec import parse_spec_rows
from data_migration_tool_spark.operators.validation import (
    RESULT_COLUMNS,
    ValidationSpec,
    column_validation,
    row_validation,
    schema_validation,
)

SPEC_CSV = """header line 1
header line 2
ddl,column,db.emp,tgt.emp,,,fail,,emp_no>100,,,emp_no,commission,,salary,,dept_no,,Y,10,,,,,
ddl,row,db.emp2,tgt.emp2,,,,emp_no,,,,,,,,,,,,,*,,,Y,100
"""


def test_spec_parser():
    specs = parse_spec_rows(SPEC_CSV)
    assert set(specs) == {"db.emp", "db.emp2"}
    s = specs["db.emp"]
    assert s.validation_type == "column"
    assert s.filters == "emp_no>100"
    assert s.count_cols == ["emp_no"]
    assert s.sum_cols == ["commission"]
    assert s.max_cols == ["salary"]
    assert s.grouped_columns == ["dept_no"]
    assert s.cast_to_bigint is True
    assert s.threshold == 10.0
    r = specs["db.emp2"]
    assert r.validation_type == "row"
    assert r.primary_keys == ["emp_no"]
    assert r.hash_cols == ["*"]
    assert r.use_random_row is True
    assert r.random_row_batch_size == 100


def _write_xlsx(path: str, rows: list[list[str]]) -> None:
    """Minimal structurally-valid .xlsx writer (test fixture): shared
    strings for text, numeric cells for int-like values."""
    import zipfile

    def col_ref(i: int) -> str:
        ref = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            ref = chr(ord("A") + r) + ref
        return ref

    shared: list[str] = []
    sheet_rows = []
    for ri, row in enumerate(rows, start=1):
        cells = []
        for ci, val in enumerate(row):
            ref = f"{col_ref(ci)}{ri}"
            if val == "":
                continue
            if val.isdigit():
                cells.append(f'<c r="{ref}"><v>{val}.0</v></c>')
            else:
                if val not in shared:
                    shared.append(val)
                cells.append(
                    f'<c r="{ref}" t="s"><v>{shared.index(val)}</v></c>'
                )
        sheet_rows.append(f'<row r="{ri}">{"".join(cells)}</row>')

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook {ns}><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0"?><sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>{"".join(sheet_rows)}</sheetData></worksheet>',
        )


def test_spec_xlsx_matches_csv(tmp_path):
    from data_migration_tool_spark.operators.spec import parse_spec_file

    csv_path = tmp_path / "params.csv"
    csv_path.write_text(SPEC_CSV)
    rows = [line.split(",") for line in SPEC_CSV.strip().splitlines()]
    xlsx_path = tmp_path / "params.xlsx"
    _write_xlsx(str(xlsx_path), rows)

    from_csv = parse_spec_file(str(csv_path))
    from_xlsx = parse_spec_file(str(xlsx_path))
    assert set(from_csv) == set(from_xlsx) == {"db.emp", "db.emp2"}
    for key in from_csv:
        assert from_csv[key] == from_xlsx[key]


def test_schema_validation_exact(spark):
    src = spark.createDataFrame([(1, "a", 1.0)], "id int, name string, v double")
    tgt = spark.createDataFrame([(1, "a", 1)], "id int, name string, v int")
    res = schema_validation(spark, src, tgt).collect()
    by_col = {r["source_column_name"]: r["validation_status"] for r in res}
    assert by_col == {"id": "success", "name": "success", "v": "fail"}
    # allow-list rescues the type change
    res2 = schema_validation(
        spark, src, tgt, ValidationSpec(allow_list="double:int")
    ).collect()
    assert all(r["validation_status"] == "success" for r in res2)


def test_column_validation_threshold(spark):
    src = spark.createDataFrame([(1, 100.0), (2, 200.0)], "id int, v double")
    tgt = spark.createDataFrame([(1, 100.0), (2, 202.0)], "id int, v double")
    spec = ValidationSpec(sum_cols=["v"], threshold=1.0)
    res = {r["validation_name"]: r for r in column_validation(src, tgt, spec).collect()}
    r = res["sum:v"]
    assert r["validation_status"] == "success"  # 0.67% <= 1%
    assert float(r["source_agg_value"]) == 300.0
    spec0 = ValidationSpec(sum_cols=["v"], threshold=0.0)
    res0 = {r["validation_name"]: r for r in column_validation(src, tgt, spec0).collect()}
    assert res0["sum:v"]["validation_status"] == "fail"


def test_column_validation_missing_group(spark):
    src = spark.createDataFrame([("a", 1), ("b", 2)], "g string, v int")
    tgt = spark.createDataFrame([("a", 1)], "g string, v int")
    spec = ValidationSpec(count_cols=["*"], grouped_columns=["g"])
    res = column_validation(src, tgt, spec).collect()
    status = {r["group_by_columns"]: r["validation_status"] for r in res}
    assert status['{"g":"a"}'] == "success"
    assert status['{"g":"b"}'] == "fail"


def test_row_validation_statuses(spark):
    src = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "pk int, v string"
    )
    tgt = spark.createDataFrame(
        [(1, "x"), (2, "CHANGED"), (4, "w")], "pk int, v string"
    )
    spec = ValidationSpec(primary_keys=["pk"], hash_cols=["*"])
    detail = row_validation(src, tgt, spec, detail=True)
    got = {r["pk"]: r["row_status"] for r in detail.collect()}
    assert got == {1: "match", 2: "mismatch", 3: "source_only", 4: "target_only"}
    summary = row_validation(src, tgt, spec).first()
    assert summary["validation_status"] == "fail"
    assert summary["source_agg_value"] == "4"  # total keys
    assert summary["target_agg_value"] == "1"  # matched


def test_row_validation_of_empty_tables(spark):
    """An empty compare keeps its NULL totals (sums over no rows) and so
    reads as a failed validation, column for column as before."""
    empty = spark.createDataFrame([], "pk int, v string")
    spec = ValidationSpec(source_table="s", target_table="t", primary_keys=["pk"],
                          hash_cols=["*"])
    summary = row_validation(empty, empty, spec)
    assert summary.dtypes == [(c, "double" if c in ("difference", "pct_difference",
                               "pct_threshold") else "string") for c in RESULT_COLUMNS]
    assert [r.asDict() for r in summary.collect()] == [{
        "validation_name": "row:pk", "validation_type": "row",
        "source_table_name": "s", "target_table_name": "t",
        "source_column_name": "pk", "aggregation_type": "row_hash",
        "group_by_columns": None, "source_agg_value": None,
        "target_agg_value": None, "difference": None, "pct_difference": None,
        "pct_threshold": 0.0, "validation_status": "fail",
    }]


def test_row_validation_random_row_seeded(spark):
    rows = [(i, f"v{i}") for i in range(100)]
    src = spark.createDataFrame(rows, "pk int, v string")
    spec = ValidationSpec(
        primary_keys=["pk"], hash_cols=["*"], use_random_row=True,
        random_row_batch_size=10, random_seed=7,
    )
    d1 = sorted(r["pk"] for r in row_validation(src, src, spec, detail=True).collect())
    d2 = sorted(r["pk"] for r in row_validation(src, src, spec, detail=True).collect())
    assert len(d1) == 10
    assert d1 == d2  # seeded → reproducible
    assert all(
        r["row_status"] == "match"
        for r in row_validation(src, src, spec, detail=True).collect()
    )


def test_audit_log_roundtrip(spark, tmp_path):
    from data_migration_tool_spark.audit import AuditLog
    from data_migration_tool_spark.audit.queries import (
        dvt_passed_tables,
        tables_to_load,
        validation_run_summary,
    )
    import datetime

    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    t0 = datetime.datetime(2026, 1, 1)
    audit.insert_rows(
        "hive_ddl_metadata",
        [
            {"run_id": "r1", "start_time": t0, "database": "db", "table": "t1",
             "format": "parquet", "ddl_extracted": "YES"},
            {"run_id": "r1", "start_time": t0, "database": "db", "table": "t2",
             "format": "csv", "ddl_extracted": "YES"},
        ],
    )
    audit.insert_rows(
        "hive_bqload_audit",
        [{"load_dtm": t0, "run_id": "r1", "hive_db_name": "db",
          "tablename": "t1", "load_status": "PASS"}],
    )
    todo = [r["table"] for r in tables_to_load(audit).collect()]
    assert todo == ["t2"]  # t1 already PASS-loaded → anti-joined away

    audit.insert_rows(
        "dmt_dvt_results",
        [
            {"run_id": "r1", "source_table_name": "db.t1",
             "validation_status": "success"},
            {"run_id": "r1", "source_table_name": "db.t2",
             "validation_status": "success"},
            {"run_id": "r1", "source_table_name": "db.t2",
             "validation_status": "fail"},
        ],
    )
    ok = [r["source_table_name"] for r in dvt_passed_tables(audit).collect()]
    assert ok == ["db.t1"]
    summ = {
        r["source_table_name"]: r["table_status"]
        for r in validation_run_summary(audit).collect()
    }
    assert summ == {"db.t1": "PASS", "db.t2": "FAIL"}


def test_ordered_stringagg_queries(spark):
    from data_migration_tool_spark.audit.queries import (
        clustering_columns,
        schema_strings,
    )

    cols = spark.createDataFrame(
        [
            ("t", "b_col", 2, "NO", None),
            ("t", "a_col", 1, "YES", None),
            ("t", "c_col", 3, "NO", 1),
        ],
        "table_name string, column_name string, ordinal_position int,"
        " is_partitioning_column string, clustering_ordinal_position int",
    )
    ss = schema_strings(
        cols.withColumn("data_type", F.lit("STRING"))
    ).first()
    assert ss["schema_string"] == "a_col:STRING,b_col:STRING,c_col:STRING"
    cc = {
        (r["table_name"], r["kind"]): r["columns"]
        for r in clustering_columns(cols).collect()
    }
    assert cc[("t", "partition")] == "a_col"
    assert cc[("t", "cluster")] == "c_col"


def test_table_checksum_detects_single_row_drift(spark):
    """Identical row multisets (even reordered) produce identical
    (n_rows, checksum); a single mutated value changes the checksum
    while the row count stays equal — the cheap first-pass compare."""
    from data_migration_tool_spark.operators.validation import table_checksum

    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )
    same_reordered = spark.createDataFrame(
        [(3, "c", 30.0), (1, "a", 10.0), (2, "b", 20.0)], "id long, s string, v double"
    )
    drifted = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.5), (3, "c", 30.0)], "id long, s string, v double"
    )
    a = table_checksum(src).first()
    b = table_checksum(same_reordered).first()
    c = table_checksum(drifted).first()
    assert (a["n_rows"], a["checksum"]) == (b["n_rows"], b["checksum"])
    assert a["n_rows"] == c["n_rows"] and a["checksum"] != c["checksum"]


def test_spec_xlsx_cells_without_refs(tmp_path):
    """ECMA-376 makes c/@r optional: cells without it occupy successive
    columns."""
    import zipfile

    from data_migration_tool_spark.operators.spec import xlsx_to_csv_text

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rows_xml = (
        '<row r="1">'
        '<c t="inlineStr"><is><t>a</t></is></c>'
        '<c t="inlineStr"><is><t>b</t></is></c>'
        '<c r="D1" t="inlineStr"><is><t>d</t></is></c>'
        '<c t="inlineStr"><is><t>e</t></is></c>'
        "</row>"
    )
    path = tmp_path / "norefs.xlsx"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook {ns}><sheets><sheet name="S1" sheetId="1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>{rows_xml}</sheetData></worksheet>',
        )
    assert xlsx_to_csv_text(path.read_bytes()) == "a,b,,d,e\n"


def test_expectations_suite_single_pass_and_verdicts(spark):
    from data_migration_tool_spark.operators import expectations as X

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "1-URGENT"),
            (2, "F", -5.0, "9-BAD"),
            (2, "Z", 50.0, "3-MEDIUM"),
            (None, "P", 20.0, "5-LOW"),
        ],
        "k long, st string, price double, prio string",
    )
    suite = X.Suite(
        [
            X.not_null("k"),
            X.unique("k"),
            X.in_set("st", ["O", "F", "P"]),
            X.in_range("price", 0.0, 100.0),
            X.matches("prio", "^[1-5]-"),
            X.satisfies("price < 1000", "price"),
            X.Expectation(
                "not_null",
                "st",
                F.col("st").isNotNull(),
                max_violations=2,
            ),
        ]
    )
    res = suite.run(df).collect()
    assert len(res) == 7
    got = {r["ordinal"]: (r["n_violations"], r["status"]) for r in res}
    assert got[0] == (1, "FAIL")  # one NULL k
    assert got[1] == (1, "FAIL")  # k=2 duplicated (NULLs don't violate)
    assert got[2] == (1, "FAIL")  # 'Z'
    assert got[3] == (1, "FAIL")  # -5.0
    assert got[4] == (1, "FAIL")  # 9-BAD
    assert got[5] == (0, "PASS")
    assert got[6] == (0, "PASS")  # within violation budget
    assert all(r["n_rows"] == 4 for r in res)
    # ONE aggregation pass: a single Exchange in the physical plan
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = suite.run(df)._jdf.queryExecution().explainString(jmode)
    assert plan.count("Exchange") <= 2  # countDistinct expands to 2-stage agg
    assert "Python" not in plan


def test_expectations_all_pass_on_clean_table(spark):
    from data_migration_tool_spark.operators import expectations as X

    df = spark.createDataFrame([(i, "ok") for i in range(10)], "k long, v string")
    res = X.Suite([X.not_null("k"), X.unique("k"), X.matches("v", "^ok$")]).run(df)
    assert [r["status"] for r in res.collect()] == ["PASS"] * 3


def test_reference_validation_params_corpus_parses():
    """Every real validation-params CSV the reference ships (the
    samples file, the common_utils mock, and all five end-to-end
    integration files) parses through the 24-column contract: specs
    keyed by source table / query file, validation types recognized,
    and the teradata data file's lineitem spec carries its flags."""
    import glob

    from data_migration_tool_spark.operators.spec import parse_spec_file

    files = sorted(
        glob.glob("/root/reference/samples/validation_params_files/*.csv")
        + glob.glob("/root/reference/src/common_utils/tests/mock/validation_params.csv")
        + glob.glob("/root/reference/src/tests/end_to_end/validation/*/*.csv")
    )
    assert len(files) >= 7
    total = 0
    for path in files:
        specs = parse_spec_file(path)
        assert specs, path
        for key, s in specs.items():
            assert key  # keyed by source table or query file
            assert s.validation_type.split()[0] in (
                "column", "row", "schema", "custom",
            ), (path, key, s.validation_type)
        total += len(specs)
    assert total >= 25

    # spot-check the teradata data-integration file
    td = parse_spec_file(
        "/root/reference/src/tests/end_to_end/validation/teradata/"
        "validation_params_teradata_data_integration_testing.csv",
        translation_type="data",
    )
    assert any("lineitem" in k for k in td)


def test_guard_audit_latest_run_scope(spark):
    """dmt_guard_audit (r10, VERDICT r9 #4): guard engagements seeded
    through the real guard code paths come back as queryable audit
    rows, scoped to the latest run_id — the older run's engagement must
    be excluded, refuse and degrade counted separately."""
    from data_migration_tool_spark.plans.validationq import dmt_guard_audit

    rows = {
        (r.guard, r.action): r
        for r in dmt_guard_audit(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {
        ("cap_bucket_size", "reroute"),
        ("ngram_jaccard_pairs", "refuse"),
        ("ngram_jaccard_pairs", "degrade"),
    }
    assert all(r.run_id == "run-002" for r in rows.values())
    rr = rows[("cap_bucket_size", "reroute")]
    assert rr.engagements == 2  # %8 and %4 — the %3 run-001 row excluded
    # 50 docs at sf0.001: %8 buckets sized {7x6, 1x8}? derive exactly:
    # implied = sum n^2 over buckets with n > 1 for mod 8 plus mod 4
    import collections

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
    ]
    expect = 0
    for mod in (8, 4):
        c = collections.Counter(d % mod for d in doc_ids)
        expect += sum(n * n for n in c.values() if n > 1)
    assert rr.implied_cost == expect and rr.cap == 1
    assert rr.cost_cap_ratio == float(expect)
    for action in ("refuse", "degrade"):
        g = rows[("ngram_jaccard_pairs", action)]
        assert (g.engagements, g.implied_cost, g.cap) == (1, 3, 1)


def test_guard_audit_removes_its_scratch_dir_when_seeding_raises(
    spark, tmp_path, monkeypatch
):
    """A seeding step that raises still removes the builder's
    ``dmt_guardaudit_*`` scratch dir."""
    import tempfile

    import pytest
    from conftest import SF_DIR

    from data_migration_tool_spark.operators import similarity as SIM
    from data_migration_tool_spark.plans.validationq import dmt_guard_audit

    def failing_cap(*_args, **_kwargs):
        raise RuntimeError("planted seeding failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(SIM, "cap_bucket_size", failing_cap)
    with pytest.raises(RuntimeError, match="planted seeding failure"):
        dmt_guard_audit(spark, SF_DIR)
    assert list(tmp_path.glob("dmt_guardaudit_*")) == []


def test_guard_event_run_id_default_null(spark, tmp_path):
    """guard_event stamps the AuditLog's run_id; logs constructed
    without one write NULL (backward compatible with every existing
    guard call site)."""
    from data_migration_tool_spark.audit.log import AuditLog, guard_event

    a = AuditLog(spark, str(tmp_path / "logs"))
    guard_event(a, guard="g", action="refuse", subject="s",
                implied_cost=5, cap=2, detail="d")
    b = AuditLog(spark, str(tmp_path / "logs"), run_id="u-77")
    guard_event(b, guard="g", action="refuse", subject="s",
                implied_cost=6, cap=2, detail="d")
    got = {r.implied_cost: r.run_id
           for r in a.table("dmt_guard_events").collect()}
    assert got == {5: None, 6: "u-77"}


def test_column_validation_inflight_matches_two_frame(spark):
    """r14 (guide §1.2): the single-scan in-flight fusion must produce
    row-identical results to column_validation(source, transformed) —
    the group join the two-frame form pays is the identity when target
    rows derive 1:1 from source rows."""
    from pyspark.sql import functions as F

    from data_migration_tool_spark.operators.validation import (
        ValidationSpec,
        column_validation,
        column_validation_inflight,
    )

    src = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i), float(i * 2)) for i in range(1, 31)],
        "k long, g string, a double, b double",
    )
    drift = F.when(F.col("k") % 5 == 0, F.col("a") * 2.0).otherwise(F.col("a"))
    spec = ValidationSpec(
        validation_type="column",
        source_table="s",
        target_table="t",
        count_cols=["*", "a"],
        sum_cols=["a", "b"],
        min_cols=["a"],
        max_cols=["b"],
        avg_cols=["a"],
        grouped_columns=["g"],
        threshold=0.1,
    )
    two = sorted(
        map(tuple, column_validation(src, src.withColumn("a", drift), spec).collect())
    )
    one = sorted(
        map(tuple, column_validation_inflight(src, {"a": drift}, spec).collect())
    )
    assert one == two and one

    # ungrouped form too
    spec2 = ValidationSpec(
        validation_type="column",
        source_table="s",
        target_table="t",
        sum_cols=["a"],
        threshold=0.1,
    )
    two2 = sorted(
        map(tuple, column_validation(src, src.withColumn("a", drift), spec2).collect())
    )
    one2 = sorted(
        map(tuple, column_validation_inflight(src, {"a": drift}, spec2).collect())
    )
    assert one2 == two2

    # rewriting a group key is refused — group identity is the fusion's
    # exactness argument
    import pytest

    with pytest.raises(ValueError, match="group"):
        column_validation_inflight(src, {"g": F.lit("x")}, spec)


def test_table_profile_of_any_column_name(spark):
    """Column names holding a backtick, a dot or a space profile exactly
    as plain names do."""
    from data_migration_tool_spark.operators.validation import table_profile

    df = spark.createDataFrame(
        [(1, 2.5, "x"), (None, 2.5, None), (3, -1.0, "y")],
        "`a``b` int, `c.d` double, `e f` string",
    )
    got = table_profile(df).collect()
    want = table_profile(df.toDF("p0", "p1", "p2")).collect()
    assert [r.column for r in got] == df.columns == ["a`b", "c.d", "e f"]
    assert [tuple(r)[1:] for r in got] == [tuple(r)[1:] for r in want]
    assert tuple(got[0])[1:] == (3, 1, 2, "1", "3")
    assert tuple(got[1])[1:] == (3, 0, 2, "-1.000000", "2.500000")
