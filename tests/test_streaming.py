from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from conftest import SF_DIR

from data_migration_tool_spark.streaming.file_stream import (
    deduped_stream,
    drain,
    watch_config_dir,
    windowed_event_counts,
)
from data_migration_tool_spark.tables import stream_table, table_path


def test_windowed_event_counts_batch(spark, tables):
    out = windowed_event_counts(tables["events"]).collect()
    assert len(out) > 0
    assert all(r["window_end"] > r["window_start"] for r in out)
    total = sum(r["n_events"] for r in out)
    assert total == tables["events"].count()


def test_deduped_stream_batch(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
    )
    assert deduped_stream(df, ["k"]).count() == 2


def test_events_streaming_end_to_end(spark, tmp_path):
    """Copy the events parquet in as a landed file, stream it with
    AvailableNow through ``drain``, window-aggregate into a memory sink."""
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(table_path(SF_DIR, "events"), landing / "events.parquet")
    agg = windowed_event_counts(stream_table(spark, str(landing)))
    rows = drain(
        agg, "events_windows", str(tmp_path), str(landing), output_mode="complete"
    ).collect()
    assert len(rows) > 0
    # streaming result must equal the batch computation
    from data_migration_tool_spark.tables import load_table

    batch = windowed_event_counts(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    assert sorted([tuple(r) for r in rows], key=lambda t: (t[0], t[2])) == sorted(
        [tuple(r) for r in batch], key=lambda t: (t[0], t[2])
    )


def test_watch_config_dir_dispatch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "cfg1.json").write_text(json.dumps({"type": "ddl", "source": "hive"}))
    (landing / "cfg2.json").write_text(json.dumps({"type": "data", "source": "td"}))
    seen: list[str] = []

    def dispatch(batch_df, batch_id):
        for r in batch_df.collect():
            seen.append(json.loads(r["value"])["type"])

    q = watch_config_dir(
        spark, str(landing), str(tmp_path / "ckpt"), dispatch, available_now=True
    )
    assert q.awaitTermination(60)
    assert sorted(seen) == ["data", "ddl"]
    # restart with same checkpoint: nothing re-dispatched (exactly-once)
    seen.clear()
    q2 = watch_config_dir(
        spark, str(landing), str(tmp_path / "ckpt"), dispatch, available_now=True
    )
    assert q2.awaitTermination(60)
    assert seen == []
    # new file arrives → only it is dispatched
    (landing / "cfg3.json").write_text(json.dumps({"type": "sql", "source": "rs"}))
    q3 = watch_config_dir(
        spark, str(landing), str(tmp_path / "ckpt"), dispatch, available_now=True
    )
    assert q3.awaitTermination(60)
    assert seen == ["sql"]


def test_stateful_sessionization_across_microbatches(spark, tmp_path):
    """State must carry open sessions across micro-batch boundaries:
    stream the events table as TWO time-split files with
    maxFilesPerTrigger=1 (two real batches), take each (user, session)'s
    final emission, and require exact equality with the one-pass batch
    sessionization."""
    import shutil
    import pandas as pd
    from pyspark.sql import functions as F
    from data_migration_tool_spark.streaming.stateful import sessionize_stream
    from data_migration_tool_spark.tables import load_table
    from data_migration_tool_spark.plans.windowq import user_sessions

    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "events")
    cut = e.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    landing = tmp_path / "landing"
    landing.mkdir()
    # micros-normalized writes: the landed files round-trip as micros,
    # so the streaming read needs no nanos handling
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(tmp_path / "f0")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(tmp_path / "f1")
    )
    for i, d in enumerate(("f0", "f1")):
        src = next((tmp_path / d).glob("*.parquet"))
        dst = landing / f"{i}_events.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))

    schema = spark.read.parquet(str(landing / "0_events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_mb")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    emitted = spark.table("sess_mb").toPandas()
    # n_events grows monotonically per (user, session): the max-count
    # emission is the final one
    final = (
        emitted.sort_values("n_events")
        .drop_duplicates(["user_id", "session_id"], keep="last")
        .sort_values(["user_id", "session_id"])
        .reset_index(drop=True)
    )
    expected = (
        user_sessions(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "session_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        final[["user_id", "session_id", "n_events", "duration_us", "sum_value"]],
        expected[["user_id", "session_id", "n_events", "duration_us", "sum_value"]],
        check_dtype=False,
    )


def test_cdc_stream_upsert_across_batches(spark, tmp_path):
    """Two landed change files applied as two streaming drains: the
    checkpoint makes the second drain process ONLY the new file, and
    latest-wins merge semantics hold across batches (update replaces,
    new key inserts, stale version loses)."""
    from data_migration_tool_spark.streaming.cdc import apply_cdc_stream

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    schema = "k long, v string, ver long"

    def drain():
        changes = spark.readStream.schema(schema).parquet(landing)
        q = apply_cdc_stream(spark, changes, target, ["k"], "ver", ckpt)
        assert q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "a0", 1), (2, "b0", 1)], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    assert {tuple(r) for r in spark.read.parquet(target).collect()} == {
        (1, "a0", 1), (2, "b0", 1)
    }

    # batch 2: update k=1 (newer ver), stale row for k=2 (older ver
    # loses), insert k=3
    spark.createDataFrame(
        [(1, "a1", 2), (2, "b-stale", 0), (3, "c0", 1)], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    assert {tuple(r) for r in spark.read.parquet(target).collect()} == {
        (1, "a1", 2), (2, "b0", 1), (3, "c0", 1)
    }


def test_stream_dedup_across_two_microbatches(spark, tmp_path):
    """Redelivery arriving in a LATER micro-batch: batch 1 lands the
    events once, batch 2 redelivers every event. Rows still inside the
    watermark dedup against state; rows behind the advanced watermark
    are dropped as late — either way each event contributes exactly
    once, so the aggregate equals batch-distinct."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from data_migration_tool_spark.tables import load_table, normalize_timestamps

    sf_dir = "/root/testdata/sf0.001"
    batch = load_table(spark, sf_dir, "events")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ck = str(tmp_path / "ckpt")
    batch.write.parquet(os.path.join(landing, "f1"))

    stream = normalize_timestamps(
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")
        .parquet(landing)
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = f"dedup2_{uuid.uuid4().hex[:8]}"
    w = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ck)
    )
    q = w.trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    # batch 2: full redelivery, then drain again from the checkpoint
    batch.write.parquet(os.path.join(landing, "f2"))
    q = w.trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    got = {r.event_type: r.n for r in spark.table(sink).collect()}
    want = {
        r.event_type: r.n
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_exactly_once_append_sink_replay_safe(spark, tmp_path):
    """The idempotent append sink must converge to exactly-once output
    under (a) a full stream drain, (b) a manual replay of an
    already-committed batch (marker short-circuit), and (c) a forced
    rewrite of a batch directory with the marker removed (overwrite
    idempotence — the property correctness actually rests on). The
    stream drains through ``file_stream.drain`` with the sink as its
    ``foreach_batch`` body; the second drain reuses ``work``, so it
    resumes from the first one's checkpoint."""
    from data_migration_tool_spark.streaming.file_stream import drain
    from data_migration_tool_spark.streaming.txn_sink import (
        append_batch_idempotent,
        read_appended,
    )

    work = str(tmp_path / "work")
    landing = os.path.join(work, "landing")
    target = str(tmp_path / "target")
    os.makedirs(landing)
    rows = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "id long, v string"
    )
    rows.coalesce(1).write.mode("append").parquet(landing)

    def drain_into_sink():
        drain(
            spark.readStream.schema(rows.schema).parquet(landing),
            "txn_sink",
            work,
            landing,
            foreach_batch=lambda df, b: append_batch_idempotent(df, b, target),
        )

    # (a) a full drain writes every row once
    drain_into_sink()
    out = read_appended(spark, target)
    assert out.count() == 100
    assert "batch_id" in out.columns

    # (b) replay of a committed batch is a no-op
    replay = spark.createDataFrame([(999, "dup")], "id long, v string")
    wrote = append_batch_idempotent(replay, 0, target)
    assert wrote is False
    assert read_appended(spark, target).count() == 100

    # (c) marker gone → the batch REWRITES its own directory, still no dups
    os.remove(os.path.join(target, "_manifest", "0"))
    batch0 = rows  # checkpoint contract: same batch id = same content
    wrote = append_batch_idempotent(batch0, 0, target)
    assert wrote is True
    assert read_appended(spark, target).count() == 100

    # second drain from the checkpoint: nothing new, nothing duplicated
    drain_into_sink()
    assert read_appended(spark, target).count() == 100


def test_txn_sink_markers_only_for_local_targets(spark, tmp_path):
    """Marker files are driver-local os calls while data goes through
    Spark writers — with an hdfs://s3a://gs:// target the two would hit
    different filesystems, so the marker optimization must disable
    itself for any non-file URI (a stale LOCAL marker must never skip a
    REMOTE write). Correctness then rests on overwrite idempotence
    alone. file:// and bare paths keep the short-circuit."""
    from data_migration_tool_spark.streaming.txn_sink import (
        _is_local_dir,
        append_batch_idempotent,
        read_appended,
    )

    assert _is_local_dir(str(tmp_path / "x"))
    assert _is_local_dir("file:///data/out")
    for remote in ("hdfs://nn/out", "s3a://bucket/out", "gs://bucket/out"):
        assert not _is_local_dir(remote)

    # file:// URI target: data via Spark, marker via os — both local, so
    # the replay short-circuit works and no remote-style skip happens
    target = "file://" + str(tmp_path / "ft")
    rows = spark.createDataFrame([(1, "a")], "id long, v string")
    assert append_batch_idempotent(rows, 7, target) is True
    assert append_batch_idempotent(rows, 7, target) is False  # marker hit
    assert read_appended(spark, target).count() == 1


def test_stream_stager_handles_directory_tables(spark, tmp_path):
    """The stream queries must accept events.parquet as a Spark-written
    DIRECTORY of part files (any real lake layout), not only the
    single-file testdata layout: results must equal the single-file
    run row-for-row."""
    from data_migration_tool_spark.plans.streamq import (
        events_stream_daily_counts,
    )
    from data_migration_tool_spark.tables import load_table

    src_dir = "/root/testdata/sf0.001"
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    # write events as a 3-part DIRECTORY table
    load_table(spark, src_dir, "events").repartition(3).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = {
        tuple(r)
        for r in events_stream_daily_counts(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in events_stream_daily_counts(spark, src_dir).collect()
    }
    assert got == want and len(got) > 0


def test_no_bare_await_termination_call_sites():
    """The loud-drain convention as an invariant. In package code the
    one ``awaitTermination`` call is the drain harness
    (``streaming/file_stream.drain``), which stops and refuses a stream
    that did not finish. In tests every call must consume the boolean —
    an ``if not``, an ``assert`` or an assignment — because a
    silently-ignored timeout means reading a partially written sink."""
    import ast
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "data_migration_tool_spark")
    calls = []
    for dirpath, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            tree = ast.parse(open(path).read())
            for fn in ast.walk(tree):
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "awaitTermination"
                    ):
                        calls.append((os.path.relpath(path, pkg), fn.name))
    assert calls == [("streaming/file_stream.py", "drain")], calls

    bare = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, "tests")):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            for i, line in enumerate(open(path), 1):
                if "awaitTermination(" not in line:
                    continue
                s = line.strip()
                if s.startswith("#") or "``" in s or '"' in s:
                    continue  # comments / docstrings / this scanner
                if re.search(
                    r"(if not |assert |= |return ).*awaitTermination\(", s
                ):
                    continue
                bare.append(f"{path}:{i}: {s}")
    assert not bare, "bare awaitTermination call sites:\n" + "\n".join(bare)


STREAM_BUILDERS = [
    "events_stream_daily_counts",
    "events_stream_sessions",
    "events_stream_user_quota",
    "events_stream_view_purchase_join",
    "events_stream_segment_revenue",
    "events_stream_dedup",
    "events_stream_incremental_rollup",
    "events_stream_view_purchase_left",
    "orders_stream_join_ivm",
    "orders_stream_rollup_ivm",
    "media_stream_decode",
]


# the temp dir every process shares unless it is pinned
SHARED_TMP = tempfile.gettempdir()


@pytest.fixture
def own_tempdir(tmp_path, monkeypatch):
    """Pin Python's temp dir to the test's own ``tmp_path``: scratch dirs
    (``stream_scratch`` uses ``mkdtemp``) then stage only where
    ``_session_state`` looks, so a stream that another Spark process
    stages meanwhile cannot show up in the ``dmt_*`` check."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def _session_state(spark):
    """What a stream builder must leave as it found it: temp views,
    active streams, ``dmt_*`` scratch dirs and session conf."""
    import glob

    return {
        "temp_views": sorted(
            t.name for t in spark.catalog.listTables() if t.isTemporary
        ),
        "active_streams": [q.id for q in spark.streams.active],
        "dmt_dirs": sorted(
            glob.glob(os.path.join(tempfile.gettempdir(), "dmt_*"))
        ),
        "conf": spark.conf.getAll,
    }


def test_session_state_ignores_other_processes_scratch(spark, own_tempdir):
    """A ``dmt_stream_*`` dir that another process stages in the shared
    temp dir while a hygiene check runs is not part of this test's
    state."""
    before = _session_state(spark)
    foreign = tempfile.mkdtemp(prefix="dmt_stream_", dir=SHARED_TMP)
    try:
        assert _session_state(spark) == before
    finally:
        os.rmdir(foreign)


@pytest.mark.parametrize("name", STREAM_BUILDERS)
def test_stream_builder_leaves_session_clean(spark, own_tempdir, name):
    """Each stream builder, consumed with ``collect()``, drops its memory
    sink view, stops its query, removes its scratch dir and restores
    the conf its drain scoped."""
    from data_migration_tool_spark.plans import mediaq, streamq

    builder = getattr(streamq, name, None) or getattr(mediaq, name)
    before = _session_state(spark)
    assert len(builder(spark, "/root/testdata/sf0.001").collect()) > 0
    assert _session_state(spark) == before


def _events_stream(spark, landing):
    import shutil

    from data_migration_tool_spark.tables import stream_table

    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(landing, "events.parquet"),
    )
    return stream_table(spark, landing)


def _sleep_batch(_df, _bid):
    import time

    time.sleep(3)


def _raise_batch(_df, _bid):
    raise ValueError("planted foreachBatch failure")


@pytest.mark.parametrize("case", ["timeout", "raising_batch", "raising_sink"])
def test_drain_refusal_paths_leave_session_clean(spark, own_tempdir, monkeypatch, case):
    """The harness's refusal paths clean up like its success path: a
    drain past the timeout (stopped, then refused), a ``foreachBatch``
    that raises, and a memory-sink stream whose task raises. The
    memory sink's view, the query and the scratch dir must all go."""
    from pyspark.sql import functions as F

    from data_migration_tool_spark.streaming import file_stream as FS

    monkeypatch.setattr(FS, "DRAIN_TIMEOUT_S", 1)
    before = _session_state(spark)
    with pytest.raises(Exception) as err:
        with FS.stream_scratch() as (work, landing):
            stream = _events_stream(spark, landing)
            if case == "timeout":
                FS.drain(stream, "hyg", work, landing, foreach_batch=_sleep_batch)
            elif case == "raising_batch":
                FS.drain(stream, "hyg", work, landing, foreach_batch=_raise_batch)
            else:
                boom = F.udf(lambda v: 1 // 0, "int")
                FS.drain(stream.select(boom("event_id")), "hyg", work, landing)
    if case == "timeout":
        assert "did not drain within 1s" in str(err.value)
    assert _session_state(spark) == before


def test_stream_scratch_removed_when_staging_raises(spark, own_tempdir, tmp_path):
    """A setup that raises before any stream starts still removes the
    scratch dir: here the stager finds no part files to land."""
    from data_migration_tool_spark.plans.streamq import _stage_events
    from data_migration_tool_spark.streaming.file_stream import stream_scratch

    before = _session_state(spark)
    with pytest.raises(FileNotFoundError):
        with stream_scratch() as (_work, landing):
            _stage_events(str(tmp_path), landing)
    assert _session_state(spark) == before


def test_orders_stream_join_ivm_equals_direct_join(spark):
    """The r12 streaming CDC join-view maintenance: three micro-batches
    of delete+insert events applied through the partition-pruned
    on-disk apply must reproduce the direct post-change join exactly
    (the no-stream ground truth)."""
    from pyspark.sql import functions as F

    from data_migration_tool_spark.plans.streamq import (
        orders_stream_join_ivm,
    )
    from data_migration_tool_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in orders_stream_join_ivm(spark, sf).collect()}

    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    ).filter(F.col("orderkey") % 10 != 3)
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(3,2)")
               - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("rev"),
    )
    want = {
        tuple(r)
        for r in o.join(li, ["orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rev").cast("double").alias("sum_revenue"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_orders_stream_join_ivm_refusal_releases_cached_lineitem(
    spark, own_tempdir, monkeypatch
):
    """A drain that raises (here every micro-batch's view apply) after
    the cached lineitem was read must still release it: after a JVM GC
    ``getPersistentRDDs()`` holds no RDD the builder persisted, and the
    session is otherwise as it was. Ids are compared, not sizes, because
    earlier tests' garbage may still be collected meanwhile."""
    import gc
    import logging
    import time

    from conftest import SF_DIR

    from data_migration_tool_spark.operators import incremental_agg
    from data_migration_tool_spark.plans import streamq

    def persistent_ids() -> set[int]:
        # ids as one string: ``getPersistentRDDs()`` returns JavaRDD
        # wrappers that py4j keeps bound until its asynchronous finalizer
        # runs, so each poll through it would pin the RDD polled for
        ids = spark.sparkContext._jsc.sc().persistentRdds().keySet().mkString(",")
        return {int(i) for i in ids.split(",") if i}

    def raising_apply(*_args, **_kwargs):
        raise ValueError("planted view-apply failure")

    monkeypatch.setattr(incremental_agg, "apply_view_changes_pruned", raising_apply)
    # py4j logs the callback's exception; a captured record's traceback
    # would keep the failed batch's checkpointed frame alive
    monkeypatch.setattr(logging.getLogger("py4j.clientserver"), "disabled", True)
    before, state = persistent_ids(), _session_state(spark)
    with pytest.raises(Exception, match="planted view-apply failure"):
        streamq.orders_stream_join_ivm(spark, SF_DIR)
    # The failed batch's checkpoint goes asynchronously: pyspark's
    # foreachBatch wrapper keeps the raised exception (its traceback
    # holds the batch's frame) until the JVM collects the wrapper's py4j
    # proxy and the Python side drops it. Poll GC rounds for up to ~10 s.
    for _ in range(40):
        gc.collect()
        spark._jvm.System.gc()
        spark._jvm.System.runFinalization()
        time.sleep(0.25)
        left = persistent_ids() - before
        if not left:
            break
    assert left == set()
    assert _session_state(spark) == state
