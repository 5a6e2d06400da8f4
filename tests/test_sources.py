from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from data_migration_tool_spark.audit import AuditLog
from data_migration_tool_spark.sources.bulk_load import (
    TableLoadSpec,
    bulk_load,
    load_table,
)
from data_migration_tool_spark.sources.incremental import (
    incremental_append,
    parse_db_table,
    stage_files,
)
from data_migration_tool_spark.sources.readers import read_table
from data_migration_tool_spark.sources.writers import write_table


def test_csv_x01_delimiter_and_schema_string(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("1\x01alice\x012.5\n2\x01bob\x013.5\n")
    df = read_table(
        spark, str(p), fmt="csv", delimiter="\x01",
        schema_ddl="id INT, name STRING, score DOUBLE",
    )
    rows = df.orderBy("id").collect()
    assert [r["name"] for r in rows] == ["alice", "bob"]
    assert df.schema.simpleString() == "struct<id:int,name:string,score:double>"


def test_csv_skip_rows(spark, tmp_path):
    p = tmp_path / "spec.csv"
    p.write_text("junk header\nmore junk\n1,a\n2,b\n")
    df = read_table(
        spark, str(p), fmt="csv", schema_ddl="id STRING, v STRING", skip_rows=2
    )
    assert sorted(r["v"] for r in df.collect()) == ["a", "b"]


def test_partition_discovery_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)], "id int, dt string, v double"
    )
    out = str(tmp_path / "part_tbl")
    write_table(src, out, partition_by=["dt"])
    assert os.path.isdir(os.path.join(out, "dt=2024-01-01"))
    back = read_table(spark, out)
    # partition column type inference kicks in: dt comes back as DateType
    assert {str(r["dt"]) for r in back.collect()} == {"2024-01-01", "2024-01-02"}


def test_bulk_load_with_rerun_and_size_guard(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "logs"))
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    spark.createDataFrame([(1, "x")], "id int, v string").write.parquet(
        str(srcdir / "t1")
    )
    spark.createDataFrame([(2, "y")], "id int, v string").write.parquet(
        str(srcdir / "t2")
    )
    wh = str(tmp_path / "wh")
    specs = [
        TableLoadSpec("db", "t1", str(srcdir / "t1")),
        TableLoadSpec("db", "t2", str(srcdir / "t2")),
    ]
    r1 = bulk_load(spark, specs, wh, audit)
    assert r1 == {"db.t1": "PASS", "db.t2": "PASS"}
    # rerun skips both via audit anti-join
    r2 = bulk_load(spark, specs, wh, audit)
    assert r2 == {"db.t1": "SKIP", "db.t2": "SKIP"}
    # size guard → FAIL row with reason
    st = load_table(
        spark, TableLoadSpec("db", "big", str(srcdir / "t1")), wh, audit,
        max_bytes=10,
    )
    assert st == "FAIL"
    fail = (
        audit.table("hive_bqload_audit")
        .filter(F.col("tablename") == "big")
        .first()
    )
    assert "exceeds" in fail["reason_for_failure"]


def test_parse_db_table():
    assert parse_db_table("/landing/salesdb/orders/part-001.parquet") == (
        "salesdb",
        "orders",
    )
    assert parse_db_table("noslashes") is None


def test_incremental_stage_and_append(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "logs"))
    landing = tmp_path / "landing" / "salesdb" / "orders"
    landing.mkdir(parents=True)
    spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1).write.parquet(
        str(tmp_path / "tmp_out")
    )
    pq = next(
        f for f in os.listdir(tmp_path / "tmp_out") if f.endswith(".parquet")
    )
    os.rename(tmp_path / "tmp_out" / pq, landing / "f1.parquet")

    t0 = datetime.datetime(2026, 1, 2, 12, 0, 0)
    audit.insert_rows(
        "hive_pubsub_audit",
        [
            {
                "subscription_name": "s",
                "message_id": "m1",
                "publish_time": t0,
                "data": '{"name": "%s", "bucket": "local"}' % str(landing / "f1.parquet"),
                "attributes": "{}",
            }
        ],
    )
    rows = stage_files(audit, str(tmp_path / "staging"), run_time=t0)
    assert len(rows) == 1 and rows[0]["file_copy_status"] == "PASS"
    assert rows[0]["hive_db"] == "salesdb" and rows[0]["table_name"] == "orders"
    # rerun within same window: nothing new to copy
    assert stage_files(audit, str(tmp_path / "staging"), run_time=t0) == []

    loaded = incremental_append(spark, audit, str(tmp_path / "wh"))
    assert loaded == {"salesdb.orders": 1}
    back = spark.read.parquet(str(tmp_path / "wh" / "salesdb" / "orders"))
    assert back.count() == 1


def test_incremental_append_loads_pass_files_per_table(spark, tmp_path):
    """A window holding two tables plus one FAIL copy row (its file
    exists, but the copy is not PASS) loads exactly each table's PASS
    files, and an older run date's PASS file is not reloaded."""
    audit = AuditLog(spark, str(tmp_path / "logs"))
    staged = {}
    for name, ids in {"a1": [1, 2], "a2": [3], "b1": [10], "a_fail": [99], "a_old": [98]}.items():
        staged[name] = str(tmp_path / "staging" / f"{name}.parquet")
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.parquet(
            staged[name]
        )
    t0 = datetime.datetime(2026, 1, 2, 12, 0, 0)

    def row(name, table, status, run_time=t0):
        return {"unique_id": "u", "job_run_time": run_time, "hive_db": "db",
                "bq_dataset": "db", "table_name": table, "source_path": name,
                "destination_path": staged[name], "file_copy_status": status}

    audit.insert_rows("hive_inc_load_table_list", [
        row("a1", "a", "PASS"), row("a2", "a", "PASS"), row("b1", "b", "PASS"),
        row("a_fail", "a", "FAIL"),
        row("a_old", "a", "PASS", datetime.datetime(2026, 1, 1, 12, 0, 0)),
    ])
    wh = tmp_path / "wh"
    assert incremental_append(spark, audit, str(wh)) == {"db.a": 2, "db.b": 1}
    ids = {t: sorted(r.id for r in spark.read.parquet(str(wh / "db" / t)).collect())
           for t in ("a", "b")}
    assert ids == {"a": [1, 2, 3], "b": [10]}


def test_incremental_append_reads_many_files_with_reader_settings(spark, tmp_path):
    """Two staged ``|``-delimited CSV files of one table append with the
    delimiter and the DDL schema, as one file does."""
    audit = AuditLog(spark, str(tmp_path / "logs"))
    staged = tmp_path / "staging"
    staged.mkdir()
    (staged / "p1.csv").write_text("1|a\n2|b\n")
    (staged / "p2.csv").write_text("3|c\n")
    t0 = datetime.datetime(2026, 1, 2, 12, 0, 0)
    audit.insert_rows("hive_inc_load_table_list", [
        {"unique_id": "u", "job_run_time": t0, "hive_db": "db", "bq_dataset": "db",
         "table_name": "t", "source_path": name, "destination_path": str(staged / name),
         "file_copy_status": "PASS"}
        for name in ("p1.csv", "p2.csv")
    ])
    wh = tmp_path / "wh"
    assert incremental_append(
        spark, audit, str(wh), fmt="csv", delimiter="|", schema_ddl="id INT, v STRING"
    ) == {"db.t": 2}
    back = spark.read.parquet(str(wh / "db" / "t"))
    assert back.columns == ["id", "v"]
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_bucketed_join_is_shuffle_free(spark, tables):
    """Identically-bucketed tables must sort-merge join with NO exchange
    on either side — the co-located-join contract bucketing exists for."""
    from data_migration_tool_spark.sources.bucketing import (
        bucket_spec,
        write_bucketed,
    )

    o = tables["orders"].select("o_orderkey", "o_totalprice")
    l = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed(o, "bkt_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bkt_lineitem",
        ["o_orderkey"],
        n_buckets=8,
    )
    try:
        assert bucket_spec(spark, "bkt_orders") == (["o_orderkey"], 8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_orders").join(
                spark.table("bkt_lineitem"), "o_orderkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert joined.count() == tables["lineitem"].count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_partitioned_write_prunes_on_read(spark, tables, tmp_path):
    """Hive-layout writes must yield partition-pruned scans: a filter on
    the partition column appears as PartitionFilters and non-matching
    partitions never reach the scan (PartitionCount reflects the prune)."""
    from pyspark.sql import functions as F
    from data_migration_tool_spark.sources.writers import write_table

    o = tables["orders"].withColumn(
        "order_year", F.year("o_orderdate")
    )
    dest = str(tmp_path / "orders_by_year")
    write_table(o, dest, partition_by=["order_year"])

    back = spark.read.parquet(dest).filter(F.col("order_year") == 1997)
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "order_year" in plan
    m = [ln for ln in plan.splitlines() if "partition count" in ln.lower()]
    if m:  # Spark reports the post-prune partition count on the scan node
        assert "1" in m[0]
    expected = o.filter(F.col("order_year") == 1997).count()
    assert back.count() == expected


def test_orc_and_xml_round_trip(spark, tmp_path):
    from data_migration_tool_spark.sources.readers import read_table
    from data_migration_tool_spark.sources.writers import write_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id bigint, name string, score double",
    )
    for fmt in ("orc", "xml"):
        path = str(tmp_path / fmt)
        write_table(df, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt)
        got = sorted(
            (r["id"], r["name"], float(r["score"])) for r in back.collect()
        )
        assert got == [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)]


# ---------------------------------------------------------------- avro S5

AVRO_SCHEMA = {
    "type": "record",
    "name": "staged",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {
            "name": "amount",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 12,
                "scale": 2,
            },
        },
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "ok", "type": "boolean"},
        {"name": "score", "type": "double"},
    ],
}


def _avro_rows():
    import decimal

    return [
        {
            "id": 1,
            "name": "alpha",
            "amount": decimal.Decimal("123.45"),
            "d": datetime.date(2024, 2, 29),
            "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
            "tags": ["a", "b"],
            "ok": True,
            "score": 1.5,
        },
        {
            "id": 2,
            "name": None,
            "amount": decimal.Decimal("-0.07"),
            "d": datetime.date(1969, 12, 31),
            "ts": datetime.datetime(1999, 12, 31, 23, 59, 59),
            "tags": [],
            "ok": False,
            "score": -2.25,
        },
    ]


def test_avro_fallback_round_trip_with_logical_types(spark, tmp_path):
    """S5 avro: the pure-Python OCF lane must land decimal / date /
    timestamp-micros TYPED (the reference's --use_avro_logical_types
    contract), through the distributed read_table path, deflate codec
    included."""
    from data_migration_tool_spark.sources import avro_fallback as AF

    d = str(tmp_path / "av")
    os.makedirs(d)
    rows = _avro_rows()
    AF.write_avro(rows[:1], AVRO_SCHEMA, os.path.join(d, "p0.avro"))
    AF.write_avro(
        rows[1:], AVRO_SCHEMA, os.path.join(d, "p1.avro"), codec="deflate"
    )

    df = read_table(spark, d, fmt="avro")
    assert df.schema.simpleString() == (
        "struct<id:bigint,name:string,amount:decimal(12,2),d:date,"
        "ts:timestamp,tags:array<string>,ok:boolean,score:double>"
    )
    got = {r.id: r for r in df.collect()}
    assert len(got) == 2
    import decimal

    assert got[1].amount == decimal.Decimal("123.45")
    assert got[1].d == datetime.date(2024, 2, 29)
    assert got[1].ts == datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert got[1].tags == ["a", "b"]
    assert got[2].name is None and got[2].amount == decimal.Decimal("-0.07")


def test_avro_fallback_interops_with_jvm_reference_impl(spark, tmp_path):
    """Cross-implementation pinning: a file written by the JVM Avro
    reference implementation (the avro core jars pyspark ships, driven
    over py4j, deflate codec) must decode in the fallback reader with
    logical dates applied — and a fallback-written file must be
    readable by the JVM DataFileReader (sync markers, unions, varints
    all validated by the reference code)."""
    import json

    from data_migration_tool_spark.sources import avro_fallback as AF

    jvm = spark._jvm
    sch_json = json.dumps(
        {
            "type": "record",
            "name": "jrec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]},
                {"name": "d", "type": {"type": "int", "logicalType": "date"}},
                {"name": "score", "type": "double"},
            ],
        }
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(sch_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "jvm.avro")
    writer.create(schema, jvm.java.io.File(p))
    for i, (name, days, sc) in enumerate(
        [("x", 19782, 0.5), (None, -1, -3.25), ("y", 0, 2.0)]
    ):
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", jvm.java.lang.Long.valueOf(str(i)))
        rec.put("name", name)
        rec.put("d", jvm.java.lang.Integer.valueOf(str(days)))
        rec.put("score", jvm.java.lang.Double.valueOf(str(sc)))
        writer.append(rec)
    writer.close()

    _, rows = AF.decode_file(open(p, "rb").read())
    assert rows == [
        {"id": 0, "name": "x", "d": datetime.date(2024, 2, 29), "score": 0.5},
        {"id": 1, "name": None, "d": datetime.date(1969, 12, 31), "score": -3.25},
        {"id": 2, "name": "y", "d": datetime.date(1970, 1, 1), "score": 2.0},
    ]

    # reverse direction: our writer, their reader
    ours = str(tmp_path / "ours.avro")
    AF.write_avro(rows, json.loads(sch_json), ours, codec="deflate")
    rdr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(ours), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while rdr.hasNext():
        rec = rdr.next()
        got.append((rec.get("id"), rec.get("d"), rec.get("score")))
    rdr.close()
    assert got == [(0, 19782, 0.5), (1, -1, -3.25), (2, 0, 2.0)]


def test_avro_fallback_aware_datetime_normalized_to_utc(tmp_path):
    import datetime as dt

    from data_migration_tool_spark.sources import avro_fallback as AF

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    plus2 = dt.timezone(dt.timedelta(hours=2))
    aware = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=plus2)
    naive_utc = dt.datetime(2024, 3, 1, 10, 0, 0)  # same instant, naive-UTC
    p = str(tmp_path / "tz.avro")
    AF.write_avro([{"ts": aware}, {"ts": naive_utc}], schema, p)
    _, rows = AF.decode_file(open(p, "rb").read())
    assert rows[0]["ts"] == rows[1]["ts"] == naive_utc


def test_avro_fallback_rejects_unsupported(spark, tmp_path):
    import pytest

    from data_migration_tool_spark.sources import avro_fallback as AF

    d = str(tmp_path / "av2")
    os.makedirs(d)
    AF.write_avro(_avro_rows(), AVRO_SCHEMA, os.path.join(d, "p.avro"))
    with pytest.raises(RuntimeError, match="plain path reads"):
        read_table(spark, d, fmt="avro", schema_ddl="id bigint")
    with pytest.raises(ValueError, match="bad magic"):
        AF.decode_file(b"PAR1not-avro-at-all")
