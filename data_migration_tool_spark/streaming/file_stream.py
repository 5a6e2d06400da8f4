"""Structured Streaming replacements for the reference's event plumbing
(SURVEY §2.9, ST1-ST5).

The reference's chain — GCS OBJECT_FINALIZE → Pub/Sub → Cloud Run
listener → Airflow dagRun — collapses to a Structured Streaming file
source watching a landing directory, with ``foreachBatch`` as the
dispatcher and ``Trigger.AvailableNow`` as the scheduled-micro-batch
(cron) equivalent. Checkpointing supplies ST4's exactly-once file
consumption (each file processed once across restarts).

Every plan-side stream drains through one harness: ``stream_scratch``
owns the scratch dir and ``drain`` runs the AvailableNow query under
its conf scope, refuses a timeout, and drops the memory sink's view.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.partitioning import scoped_conf

# How long an AvailableNow drain may run before it is stopped and refused.
DRAIN_TIMEOUT_S = 300


@contextmanager
def stream_scratch():
    """Yield ``(work, landing)``: a fresh ``dmt_stream_*`` scratch dir
    and the empty ``landing/`` inside it. The dir is removed on every
    exit — success, drain timeout, a stream that raised, a setup that
    raised — so a plan keeps everything it stages, checkpoints and
    sinks to disk under ``work`` and cleans up nothing itself."""
    work = tempfile.mkdtemp(prefix="dmt_stream_")
    try:
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        yield work, landing
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _state_partitions(spark: SparkSession, landing: str) -> int:
    """ceil(landed bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``),
    clamped to [1, the session's ``spark.sql.shuffle.partitions``]."""
    landed = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(landing)
        for f in files
    )
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(max(-(-landed // advisory), 1), cap)


def drain(
    df: DataFrame,
    name: str,
    work: str,
    landing: str,
    *,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    skip_no_data_batch: bool = False,
) -> DataFrame | None:
    """Run the streaming ``df`` to completion with ``Trigger.AvailableNow``
    (checkpoint under ``work``) into a memory sink, or into
    ``foreach_batch`` when one is given. Returns the memory sink's rows
    as a DataFrame, or None for ``foreach_batch``.

    The drain is LOUD: a query still running after ``DRAIN_TIMEOUT_S``
    is stopped and refused, because reading a sink before the stream
    finishes returns silently partial rows. A stream that fails raises
    its ``StreamingQueryException``. On every exit the memory sink's
    temp view is dropped; the returned DataFrame is resolved before the
    drop and still reads the drained rows.

    Conf for the drain, scoped by ``scoped_conf``:

    - State partitions are sized from the landed input. Structured
      Streaming fixes its state partitioning to
      ``spark.sql.shuffle.partitions`` at the first micro-batch, and
      every state partition is one state store to commit per trigger.
      ``_state_partitions`` applies the batch-AQE sizing rule once, so
      a one-file test landing gets one store while a large landing
      still gets many. Semantics are partition-count-independent, so
      the count cannot change results. It also sizes the batch
      shuffles a ``foreach_batch`` sink runs inside the drain.
    - ``skip_no_data_batch`` turns off the trailing NO-DATA micro-batch,
      which the engine otherwise runs after the last data batch for
      watermark-driven eviction and emission (a profiled inner interval
      join spent 0.8 s of its 2.4 s drain there, emitting no rows). Set
      it only where that batch provably cannot add sink rows: inner
      stream-stream joins, complete-mode aggregates, and NoTimeout
      stateful processors. A left-outer join must keep it, since its
      NULL rows are emitted in exactly that batch (the oracle
      hash-fails without them), and so must any timeout- or
      timer-driven processor."""
    spark = df.sparkSession
    conf = {"spark.sql.shuffle.partitions": str(_state_partitions(spark, landing))}
    if skip_no_data_batch:
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    writer = df.writeStream.option(
        "checkpointLocation", os.path.join(work, "ckpt")
    ).trigger(availableNow=True)
    sink = None
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        sink = f"{name}_{uuid.uuid4().hex[:8]}"
        writer = writer.outputMode(output_mode).format("memory").queryName(sink)
    try:
        with scoped_conf(spark, conf):
            q = writer.start()
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise RuntimeError(
                    f"{name}: stream did not drain within {DRAIN_TIMEOUT_S}s; "
                    f"refusing to read a partially-written sink."
                )
        return spark.table(sink) if sink else None
    finally:
        if sink:
            spark.catalog.dropTempView(sink)


def watch_config_dir(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    dispatch: Callable[[DataFrame, int], None],
    schema_ddl: str = "value string",
    fmt: str = "text",
    available_now: bool = True,
):
    """ST1: file-arrival triggering. Each micro-batch hands the new
    files' rows to ``dispatch(batch_df, batch_id)`` — the engine's
    controller branch (config type routing) runs there.

    ``available_now=True`` = drain everything then stop (the cron
    semantics, ST3); False = continuous 10s micro-batches.
    """
    stream = (
        spark.readStream.format(fmt)
        .schema(schema_ddl)
        .option("maxFilesPerTrigger", 64)
        .load(landing_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(dispatch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """ST2 as a real streaming aggregation: tumbling windows with a
    watermark bounding state (late rows beyond the watermark dropped —
    matching the reference's hard 1-day lookback).

    Works on both batch and streaming DataFrames (same code path, the
    Spark unification the reference's dual bulk/incremental DAGs lack).
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(F.col(ts_col), window).alias("win"), F.col(key_col)
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        key_col,
        "n_events",
        "sum_value",
    )


def deduped_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """ST4: exactly-once-ish keyed dedup. Streaming: dropDuplicates
    within the watermark horizon (bounded state). Batch: plain
    dropDuplicates — same semantics the audit anti-join provides."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(key_cols)
    return df.dropDuplicates(key_cols)
