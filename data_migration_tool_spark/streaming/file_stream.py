"""Structured Streaming replacements for the reference's event plumbing
(SURVEY §2.9, ST1-ST5).

The reference's chain — GCS OBJECT_FINALIZE → Pub/Sub → Cloud Run
listener → Airflow dagRun — collapses to a Structured Streaming file
source watching a landing directory, with ``foreachBatch`` as the
dispatcher and ``Trigger.AvailableNow`` as the scheduled-micro-batch
(cron) equivalent. Checkpointing supplies ST4's exactly-once file
consumption (each file processed once across restarts).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def run_events_stream_demo(
    spark: SparkSession,
    source_parquet: str,
    work_dir: str,
) -> list:
    """End-to-end Structured Streaming run over the events table: copy
    the parquet in as a 'landed file', stream it with AvailableNow,
    window-aggregate into a memory sink, return the rows."""
    import os
    import shutil

    landing = os.path.join(work_dir, "landing")
    os.makedirs(landing, exist_ok=True)
    shutil.copy(source_parquet, os.path.join(landing, "events.parquet"))

    from data_migration_tool_spark.tables import stream_table

    stream = stream_table(spark, landing)

    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("events_windows")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from data_migration_tool_spark.plans.streamq import _drain_or_raise

    _drain_or_raise(q, "run_events_stream_demo", timeout=120)
    return spark.sql(
        "select * from events_windows order by window_start, event_type"
    ).collect()
