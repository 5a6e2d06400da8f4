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


def test_schema_evolution_read_and_align(spark, tmp_path):
    """Files with drifted schemas (added column, retyped column) read
    as a union schema, then align_to_target restores the declared
    shape: typed NULLs for historical gaps, casts for drift, extras
    dropped — all reported."""
    from pyspark.sql import types as T

    from data_migration_tool_spark.sources.evolution import (
        align_to_target,
        read_evolved,
    )

    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, 10)], "k long, v int").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(
        [(2, 20, "x")], "k long, v int, extra string"
    ).coalesce(1).write.mode("append").parquet(d)

    merged = read_evolved(spark, d)
    assert set(merged.columns) == {"k", "v", "extra"}
    assert {tuple(r) for r in merged.select("k", "extra").collect()} == {
        (1, None), (2, "x")
    }

    declared = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),      # retyped int -> long
            T.StructField("w", T.DoubleType()),    # declared but never landed
        ]
    )
    aligned, report = align_to_target(merged, declared)
    assert [f.dataType for f in aligned.schema.fields] == [
        T.LongType(), T.LongType(), T.DoubleType()
    ]
    assert {tuple(r) for r in aligned.collect()} == {
        (1, 10, None), (2, 20, None)
    }
    assert report == {
        "added_null": ["w"], "cast": ["v:int->bigint"], "dropped": ["extra"]
    }


def test_zorder_write_bounds_both_dimensions(spark, tables, tmp_path):
    """Z-ordered files bound EVERY interleaved column's per-file
    extent (the property footer min/max pruning needs for filters on
    either column); a single-column sort bounds only its own column.
    Verified from the written files' actual parquet footer stats."""
    import glob

    import pyarrow.parquet as pq

    from data_migration_tool_spark.sources.zorder import write_zordered

    l = tables["lineitem"].select("l_partkey", "l_suppkey")
    zdir = str(tmp_path / "zorder")
    write_zordered(l, zdir, ["l_partkey", "l_suppkey"], n_files=16)

    def extents(d, col):
        out = []
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = [
                md.row_group(0).column(j).path_in_schema
                for j in range(md.num_columns)
            ].index(col)
            stats = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    gmin, gmax = l.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    smin, smax = l.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    p_span, s_span = gmax - gmin, smax - smin

    p_exts = extents(zdir, "l_partkey")
    s_exts = extents(zdir, "l_suppkey")
    assert len(p_exts) >= 8  # range partitioning actually split files
    avg_p = sum(mx - mn for mn, mx in p_exts) / len(p_exts)
    avg_s = sum(mx - mn for mn, mx in s_exts) / len(s_exts)
    # 16 files over 2 interleaved dims → ~4×4 grid: each file covers a
    # fraction of BOTH columns, not just the leading sort column
    assert avg_p < 0.55 * p_span
    assert avg_s < 0.55 * s_span


def test_training_shard_write_deterministic_order(spark, tmp_path):
    """Shard export: every doc lands in exactly one shard directory,
    file contents are hash-ordered, and a rewrite is byte-stable (the
    reproducibility property the md5 key exists for)."""
    from data_migration_tool_spark.sources.sharding import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, id_col="doc_id", n_shards=4)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("shard").distinct().count() == 4
    # membership is the pure md5 function of doc_id
    got = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
    expect = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 4
            )
            .cast("int")
            .alias("s"),
        ).collect()
    }
    assert got == expect

    # within-file order is ascending in the hash key (clustered write)
    one = spark.read.parquet(out + "/shard=0").withColumn(
        "k", F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    )
    ks = [r["k"] for r in one.select("k").collect()]
    # parquet preserves row order within a file; single task wrote it
    assert ks == sorted(ks)

    # rewrite → identical membership and order
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, id_col="doc_id", n_shards=4)
    a = [tuple(r) for r in spark.read.parquet(out).orderBy("shard", "doc_id").collect()]
    b = [tuple(r) for r in spark.read.parquet(out2).orderBy("shard", "doc_id").collect()]
    assert a == b


def test_quarantine_reader_splits_and_gates(spark, tmp_path):
    """PERMISSIVE load: good rows parse, malformed lines land verbatim
    in the quarantine dir, and the bad-record budget gates the load."""
    from data_migration_tool_spark.sources.quarantine import (
        BadRecordThresholdExceeded,
        read_with_quarantine,
    )

    p = tmp_path / "in.csv"
    p.write_text(
        "1,alice,2.5\n"
        "2,bob,notanumber\n"  # bad: double column fails to parse
        "3,carol,3.5\n"
        "4,dave,oops,extra\n"  # bad: arity mismatch
        "5,erin,1.0\n"
    )
    qdir = str(tmp_path / "quarantine")
    res = read_with_quarantine(
        spark,
        str(p),
        fmt="csv",
        schema_ddl="id INT, name STRING, score DOUBLE",
        quarantine_dir=qdir,
        max_bad_records=2,
    )
    assert res.n_good == 3 and res.n_bad == 2
    assert sorted(r["id"] for r in res.good.collect()) == [1, 3, 5]
    quarantined = sorted(
        r["value"] for r in spark.read.text(qdir).collect()
    )
    assert quarantined == ["2,bob,notanumber", "4,dave,oops,extra"]

    import pytest as _pytest

    with _pytest.raises(BadRecordThresholdExceeded):
        read_with_quarantine(
            spark,
            str(p),
            fmt="csv",
            schema_ddl="id INT, name STRING, score DOUBLE",
            quarantine_dir=str(tmp_path / "q2"),
            max_bad_records=1,
        )


def test_compaction_reduces_files_preserves_rows(spark, tables, tmp_path):
    """Compacting a 64-small-file directory yields ~target-sized files
    with identical data; cluster_by additionally restores min/max
    locality on the cluster column."""
    from data_migration_tool_spark.sources.compaction import compact

    src = str(tmp_path / "small")
    li = tables["lineitem"].select("l_orderkey", "l_partkey", "l_quantity")
    li.repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 64
    total = sum(os.path.getsize(f) for f in glob.glob(src + "/*.parquet"))

    dst = str(tmp_path / "compacted")
    plan = compact(spark, src, dst, target_file_bytes=total // 4 + 1)
    out_files = glob.glob(dst + "/*.parquet")
    assert plan.n_input_files == 64
    assert plan.n_output_files == 4
    assert len(out_files) == 4
    a = spark.read.parquet(src).orderBy("l_orderkey", "l_partkey", "l_quantity")
    b = spark.read.parquet(dst).orderBy("l_orderkey", "l_partkey", "l_quantity")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]

    # clustered compaction: each file covers a narrow l_orderkey range
    dst2 = str(tmp_path / "clustered")
    compact(spark, src, dst2, target_file_bytes=total // 4 + 1,
            cluster_by=["l_orderkey"])
    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(dst2 + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.row_group(0).column(j).path_in_schema
                 for j in range(md.num_columns)]
        idx = names.index("l_orderkey")
        stats = [md.row_group(i).column(idx).statistics
                 for i in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    gmin = min(mn for mn, _ in spans)
    gmax = max(mx for _, mx in spans)
    avg_span = sum(mx - mn for mn, mx in spans) / len(spans)
    assert avg_span < 0.5 * (gmax - gmin)


def test_fixedwidth_datasource(spark, tmp_path):
    """Custom Python DataSource: fixed-width records parse with typed
    fields, blank numerics → NULL, one partition per file."""
    from data_migration_tool_spark.sources.fixedwidth import FixedWidthDataSource

    d = tmp_path / "fw"
    d.mkdir()
    (d / "part1.dat").write_text(
        "000001alice         00012.50\n"
        "000002bob           00003.25\n"
    )
    (d / "part2.dat").write_text(
        "000003carol женщина 00099.99\n"
        "000004dave                  \n"  # blank score → NULL
    )

    spark.dataSource.register(FixedWidthDataSource)
    df = (
        spark.read.format("fixedwidth")
        .schema("id INT, name STRING, score DOUBLE")
        .option("path", str(d))
        .option("widths", "6,14,8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows[1] == ("alice", 12.5)
    assert rows[2] == ("bob", 3.25)
    assert rows[3] == ("carol женщина", 99.99)
    assert rows[4] == ("dave", None)


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


def test_avro_fallback_block_split_read(spark, tmp_path):
    """An oversized single OCF file must parallelize: the driver walks
    the sync-framed block index by seeking (bytes read ∝ block count),
    coalesces blocks into byte-targeted splits, and tasks decode their
    own ranges. Values must equal the serial whole-file decode."""
    from data_migration_tool_spark.sources import avro_fallback as AF

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}, {"name": "s", "type": "string"}],
    }
    rows = [{"id": i, "s": f"row-{i:04d}" * 8} for i in range(1000)]
    p = str(tmp_path / "big.avro")
    AF.write_avro(rows, schema, p, block_rows=50)  # 20 blocks

    _, _, _, blocks = AF.scan_block_index(p)
    assert len(blocks) == 20
    assert sum(c for _, _, c in blocks) == 1000
    # block ranges tile the body contiguously
    for (s0, e0, _), (s1, _, _) in zip(blocks, blocks[1:]):
        assert e0 == s1

    df = AF.read_avro_split(spark, p, target_split_bytes=4096)
    got = sorted((r["id"], r["s"]) for r in df.collect())
    assert got == [(r["id"], r["s"]) for r in rows]
    assert df.rdd.getNumPartitions() > 1  # actually split, not one task

    # serial decode agrees
    _, serial = AF.decode_file(open(p, "rb").read())
    assert [r["id"] for r in serial] == list(range(1000))


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
