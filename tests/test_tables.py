"""Footer-derived parquet schemas and session-conf scopes.

``tables.parquet_schema`` stands in for Spark's schema inference on every
package parquet read, so it must return exactly the StructType
``spark.read.parquet`` infers (nullability included), and the reads that
use it must schedule no inference job.
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys

import pytest
from conftest import SF_DIR

from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS, AuditLog
from data_migration_tool_spark.partitioning import scoped_conf
from data_migration_tool_spark.tables import (
    TPCH_TABLES,
    load_table,
    parquet_schema,
    table_path,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.profile_jobs import _marker_job_id  # noqa: E402

NTZ_KEY = "spark.sql.parquet.inferTimestampNTZ.enabled"
SCHEMA_STAGE_PREFIX = "parquet at "


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """A Spark-written directory with INT96 timestamps and a pyarrow file
    with timestamp[ns], list<float>, decimal and required columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("schemas")
    int96 = str(root / "int96")
    with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        spark.range(3).selectExpr(
            "id",
            "CAST(id AS TIMESTAMP) AS ts",
            "CAST('2020-01-01 00:00:00' AS TIMESTAMP_NTZ) AS ntz",
            "array(named_struct('x', id)) AS nested",
        ).write.parquet(int96)
    arrow = str(root / "arrow.parquet")
    schema = pa.schema(
        [
            pa.field("id", pa.int64(), nullable=False),
            ("ts_ns", pa.timestamp("ns")),
            ("ts_us", pa.timestamp("us")),
            ("vec", pa.list_(pa.float32())),
            ("amount", pa.decimal128(12, 2)),
            ("tags", pa.struct([pa.field("k", pa.int64(), nullable=False)])),
        ]
    )
    row = {
        "id": 1,
        "ts_ns": datetime.datetime(2020, 1, 1, 0, 0, 1),
        "ts_us": datetime.datetime(2020, 1, 1),
        "vec": [1.0, 2.5],
        "amount": decimal.Decimal("12.34"),
        "tags": {"k": 1},
    }
    pq.write_table(pa.Table.from_pylist([row], schema=schema), arrow)
    return {"int96": int96, "arrow": arrow}


def _paths(written) -> list[str]:
    out = []
    for sf in (SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")):
        out += [table_path(sf, t) for t in TPCH_TABLES if os.path.exists(table_path(sf, t))]
    assert len(out) == 2 * len(TPCH_TABLES)
    return out + [written["int96"], written["arrow"]]


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_footer_schema_equals_spark_inference(spark, written, infer_ntz):
    with scoped_conf(spark, {NTZ_KEY: infer_ntz}):
        for p in _paths(written):
            schema, _ = parquet_schema(spark, p)
            assert schema == spark.read.parquet(p).schema, p


def test_footer_schema_flags_top_level_nanos(spark, written):
    schema, ns_cols = parquet_schema(spark, written["arrow"])
    assert ns_cols == ["ts_ns"]
    assert schema["ts_ns"].dataType.typeName() == "long"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    row = spark.read.schema(schema).parquet(written["arrow"]).first()
    assert row["ts_ns"] == 1577836801 * 10**9


def _stage_names(spark, fn) -> list[str]:
    st = spark.sparkContext.statusTracker()
    before = _marker_job_id(spark)
    fn()
    after = _marker_job_id(spark)
    names = []
    for jid in range(before + 1, after):
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            names.append(stage.name if stage else "")
    return names


def test_package_reads_schedule_no_inference_job(spark, tmp_path):
    def schema_jobs(fn):
        return [n for n in _stage_names(spark, fn) if n.startswith(SCHEMA_STAGE_PREFIX)]

    # positive control: a bare read does schedule the inference job
    assert schema_jobs(lambda: spark.read.parquet(table_path(SF_DIR, "orders")).schema)
    for t in ("orders", "events", "lineitem"):
        assert schema_jobs(lambda: load_table(spark, SF_DIR, t).schema) == [], t

    # one pyarrow-written and one Spark-written part
    audit = AuditLog(spark, str(tmp_path / "dmt_logs"))
    row = {"subscription_name": "s", "message_id": "1", "publish_time": None,
           "data": "d", "attributes": "{}"}
    audit.insert_rows("hive_pubsub_audit", [row])
    audit.insert_df(
        "hive_pubsub_audit",
        spark.createDataFrame([row], KNOWN_SCHEMAS["hive_pubsub_audit"]),
    )
    assert schema_jobs(lambda: audit.table("hive_pubsub_audit").schema) == []
    assert audit.table("hive_pubsub_audit").count() == 2


def test_stream_lane_leaves_unset_conf_unset(spark):
    """The drain's conf scopes restore by unset: a session that never set
    a key (a fresh SparkSession without ``session.py``'s defaults) must not
    find it pinned after."""
    from data_migration_tool_spark.plans.streamq import events_stream_segment_revenue

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.unset(k)
    try:
        assert events_stream_segment_revenue(spark, SF_DIR).count() > 0
        assert {k: spark.conf.get(k, None) for k in keys} == dict.fromkeys(keys)
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_scoped_conf_restores_set_values(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with scoped_conf(spark, {key: "3"}):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == old
