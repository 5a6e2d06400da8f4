"""Structured Streaming plan under the correctness gate (SURVEY §2.9).

``events_stream_daily_counts`` runs a REAL streaming query — file
source → watermarked tumbling-window aggregation → memory sink with
``Trigger.AvailableNow`` — and returns the sink contents. Because
AvailableNow drains everything in one pass, the result equals the batch
window aggregation, so a plain SQL oracle checks the streaming path
end-to-end (watermark semantics, window assignment, state store).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.partitioning import cached, par_jobs
from data_migration_tool_spark.streaming.file_stream import (
    drain,
    stream_scratch,
    windowed_event_counts,
)
from data_migration_tool_spark.tables import (
    load_table,
    normalize_timestamps,
    stream_table,
    table_path,
)


def _stage_events(src: str, landing: str) -> None:
    """Land the events table into the stream's landing directory.

    ``src`` may be a single parquet file (the driver's testdata layout)
    or a Spark-written DIRECTORY of part files (the layout of any real
    lake table). Each part lands as its own file — which is also the
    realistic file-source condition: the source lists N files and
    micro-batches split along file boundaries."""
    if os.path.isdir(src):
        parts = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {src}")
        for i, name in enumerate(parts):
            shutil.copy(
                os.path.join(src, name),
                os.path.join(landing, f"events_{i:05d}.parquet"),
            )
    else:
        shutil.copy(src, os.path.join(landing, "events.parquet"))


def _stage_cdc(ball: str, landing: str) -> None:
    """Land the three buckets of a ``partitionBy("bi")`` CDC write as one
    file each: bucket ``bi=<i>`` (one part file, since each bi value
    hashes to one task) becomes ``cdc_<i>.parquet``, so a
    ``maxFilesPerTrigger=1`` stream replays them as three micro-batches
    in order."""
    for i in range(3):
        bdir = os.path.join(ball, f"bi={i}")
        part = next(n for n in os.listdir(bdir) if n.endswith(".parquet"))
        shutil.copy(
            os.path.join(bdir, part),
            os.path.join(landing, f"cdc_{i:02d}.parquet"),
        )


def events_stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window counts per event_type, computed by
    Structured Streaming over the events table staged as a landed file.

    At 100 TB: the file source lists incrementally (only new files per
    micro-batch), the watermark bounds window state to ~2 days, and the
    windowed agg is the same map-side-combined shuffle as its batch
    twin — state size follows (windows × event_types), not row count."""
    with stream_scratch() as (work, landing):
        _stage_events(table_path(sf_dir, "events"), landing)
        agg = windowed_event_counts(
            stream_table(spark, landing), window="1 day", watermark="1 day"
        )
        # complete-mode agg: the no-data maintenance batch recomputes
        # the identical aggregate from unchanged state — skip it
        rows = drain(
            agg, "events_stream_daily_counts", work, landing,
            output_mode="complete", skip_no_data_batch=True,
        )
    return rows.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_value",
    )


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a REAL stateful streaming query:
    file source → ``applyInPandasWithState`` (per-user open-session
    state, emit-on-update) → memory sink, drained with AvailableNow.

    With a single drain every emitted (user, session) row is final, so
    the result equals batch sessionization and a plain SQL oracle
    checks the stateful path end-to-end (state round-trip, Arrow
    transfer, update-mode emission). See streaming/stateful.py for the
    100 TB state-size argument."""
    from data_migration_tool_spark.streaming.stateful import sessionize_stream

    with stream_scratch() as (work, landing):
        _stage_events(table_path(sf_dir, "events"), landing)
        # NoTimeout stateful processor: emission is data-driven only,
        # the no-data batch cannot add sink rows — skip it
        return drain(
            sessionize_stream(stream_table(spark, landing)),
            "events_stream_sessions", work, landing,
            output_mode="update", skip_no_data_batch=True,
        )


EVENTS_STREAM_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessioned
GROUP BY user_id, session_id
"""


EVENTS_STREAM_DAILY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: events roll up to hourly
    buckets, and the DAILY grain is derived from the HOURLY partials
    (sum of sums, sum of counts, min of mins, max of maxes) — raw rows
    are touched once. The oracle aggregates the raw table straight to
    daily, so the gate proves rollup-of-rollup == direct aggregation
    (the correctness contract that makes cascading materialized
    rollups safe). Decimal partials keep every grain exact; avg is
    derived at read time from (sum, count), never rolled up itself.

    At 100 TB: the hourly table is what you materialize incrementally
    (watermarked streaming agg); daily/weekly/monthly queries then
    scan hours, not events — (24×365) rows/year per group key."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", F.col("hour")), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            (F.sum("sum_dec").cast("double") / F.sum("n")).alias("avg_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


EVENTS_HYPERTABLE_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""


def events_stream_user_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user quota enforcement as a REAL ``transformWithStateInPandas``
    streaming query (Spark 4 State-V2 processor; see streaming/quota.py)
    — file source → O(1)-state accumulation → memory sink, drained with
    AvailableNow so every emitted row is final and the batch
    window-cumsum oracle checks the stateful path end-to-end."""
    from data_migration_tool_spark.streaming.quota import quota_stream

    with stream_scratch() as (work, landing):
        _stage_events(table_path(sf_dir, "events"), landing)
        # NoTimeout stateful processor: emission is data-driven only,
        # the no-data batch cannot add sink rows — skip it
        return drain(
            quota_stream(stream_table(spark, landing)),
            "events_stream_user_quota", work, landing,
            output_mode="update", skip_no_data_batch=True,
        )


EVENTS_STREAM_QUOTA_SQL = """
WITH cents AS (
  SELECT user_id, event_id, ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
),
run AS (
  SELECT user_id, c,
         SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM cents
)
SELECT user_id, COUNT(*) AS n_events,
       COUNT(CASE WHEN cum > 100000 THEN 1 END) AS n_throttled,
       CAST(SUM(c) AS BIGINT) AS sum_cents
FROM run
GROUP BY user_id
"""


def events_stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the remaining Structured Streaming
    join shape: the view stream inner-joins the purchase stream on
    user_id with purchases constrained to (view_ts, view_ts + 1 hour].
    Both sides carry 2-hour watermarks, which with the time-range
    predicate lets Spark expire join state (the bounded-state contract;
    without the range condition an interval join holds both streams
    forever). AvailableNow drains one batch, so the emitted inner-join
    matches equal the batch interval join and a plain SQL oracle checks
    the stream-stream path end-to-end.

    At 100 TB/day: state per side is bounded by watermark + interval
    (≤3 h of events), partitioned by the equi-key — the shape survives
    any stream volume whose 3-hour slice fits the cluster, which is the
    physical minimum for this semantics."""
    # inner join: matches emit in the data batch itself, so the
    # trailing no-data state-maintenance batch adds nothing to the
    # sink — skip it (the left-outer twin keeps it, its NULL rows emit
    # exactly there)
    return _view_purchase_stream(
        spark, sf_dir, "inner", "events_stream_view_purchase_join",
        skip_no_data_batch=True,
    )


def _view_purchase_stream(
    spark: SparkSession, sf_dir: str, how: str, name: str,
    skip_no_data_batch: bool,
) -> DataFrame:
    """Drain the view ⋈ purchase interval join (2 h watermarks, purchase
    in (view_ts, view_ts + 1 h]) of the landed events, joined ``how``."""
    with stream_scratch() as (work, landing):
        _stage_events(table_path(sf_dir, "events"), landing)

        def side(kind: str, p: str) -> DataFrame:
            return (
                stream_table(spark, landing)
                .filter(F.col("event_type") == kind)
                .select(
                    F.col("user_id").alias(f"{p}_user"),
                    F.col("event_id").alias(f"{kind}_id"),
                    F.col("ts").alias(f"{p}_ts"),
                )
                .withWatermark(f"{p}_ts", "2 hours")
            )

        joined = side("view", "v").join(
            side("purchase", "p"),
            F.expr(
                "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"
            ),
            how,
        ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
        return drain(
            joined, name, work, landing, skip_no_data_batch=skip_no_data_batch
        )


EVENTS_STREAM_SSJOIN_SQL = """
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid densification (resample): hourly event counts per
    type with EVERY hour of the observed range present — missing
    buckets zero-filled. The gap-fill step a time-series store performs
    before rate/delta math; a rollup that silently omits empty hours
    breaks every downstream derivative.

    Scale: the raw scan aggregates once to (hour, type) grain; the
    dense grid is generated from a 1-row bounds aggregate (sequence
    explode — |hours|×|types| rows, aggregate-scale not event-scale)
    and left-joins the partials. Nothing event-grain is ever joined or
    regenerated."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    )
    counts = e.groupBy("hour", "event_type").agg(F.count(F.lit(1)).alias("n"))
    bounds = e.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    types = e.select("event_type").distinct()
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    ).crossJoin(types)
    return grid.join(counts, ["hour", "event_type"], "left").select(
        F.date_format("hour", "yyyy-MM-dd HH:mm").alias("hour"),
        "event_type",
        F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_events"),
    )


EVENTS_GAPFILL_SQL = """
WITH e AS (SELECT date_trunc('hour', ts) AS hour, event_type FROM events),
counts AS (SELECT hour, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM e),
grid AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM e)
SELECT strftime(g.hour, '%Y-%m-%d %H:%M') AS hour,
       t.event_type,
       COALESCE(c.n, 0) AS n_events
FROM grid g
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = g.hour AND c.event_type = t.event_type
"""


def events_stream_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the
    customer dimension (static broadcast — no stream-side state, the
    remaining Structured Streaming join shape after windowed aggs and
    stateful sessions), then aggregates value per (mktsegment,
    event_type) in complete mode.

    At 100 TB: stream-static joins keep ZERO join state — each
    micro-batch probes the broadcast dimension and moves on; only the
    downstream aggregate holds state, sized by |segments × types|.
    AvailableNow drains everything in one pass, so the result equals
    the batch join+agg and a plain SQL oracle checks the streaming
    path end-to-end."""
    from data_migration_tool_spark.functions.scalars import dsum

    with stream_scratch() as (work, landing):
        _stage_events(table_path(sf_dir, "events"), landing)
        stream = stream_table(spark, landing)
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        agg = (
            stream.join(F.broadcast(cust), stream.user_id == cust.c_custkey)
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("sum_value"),
            )
        )
        # complete-mode agg: the no-data maintenance batch recomputes
        # the identical aggregate from unchanged state — skip it
        return drain(
            agg, "events_stream_segment_revenue", work, landing,
            output_mode="complete", skip_no_data_batch=True,
        )


EVENTS_STREAM_SEGMENT_SQL = """
SELECT c_mktsegment, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
"""


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on event_id removes redelivered
    events before aggregation. The staging step writes the events table
    DOUBLED (every event delivered twice — the at-least-once worst
    case) into the landing dir as one file, so the dedup operator must
    discard exactly half the input to match the batch-distinct oracle.

    State contract at scale: one entry per event_id seen within the
    watermark horizon, evicted as the watermark passes — unlike plain
    ``dropDuplicates`` (unbounded state forever), this is the form that
    survives an infinite stream. Duplicates must arrive within the
    watermark of each other — exactly the redelivery window a
    replaying source (Kafka offset rewind, file re-land) produces."""
    batch = load_table(spark, sf_dir, "events")
    with stream_scratch() as (work, landing):
        # parallel staging write; the files all land in the FIRST
        # micro-batch (well under maxFilesPerTrigger), so dedup sees
        # every duplicate in one batch and the result is deterministic
        batch.unionByName(batch).write.parquet(os.path.join(landing, "doubled"))
        stream = normalize_timestamps(
            spark.readStream.schema(batch.schema)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        agg = (
            stream.withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        # complete-mode agg over watermark-deduped input: the no-data
        # batch only evicts expired dedup state, emission is unchanged
        rows = drain(
            agg, "events_stream_dedup", work, landing,
            output_mode="complete", skip_no_data_batch=True,
        )
    return rows.select("event_type", "n_events", "sum_value")


EVENTS_STREAM_DEDUP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


def events_hourly_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection at hourly grain: each (event_type, hour)
    bucket is compared to its own trailing 24 observed buckets — flag
    when the count exceeds mean + 3σ. The monitoring query an ingest
    pipeline runs continuously.

    Exactness across engines: bucket counts are integers; trailing sum
    and sum-of-squares stay integer under the window; mean/σ derive
    from them with an identical double formula both sides, so even the
    flag boolean is hash-stable. One shuffle to hourly grain (map-side
    combined), one window ordered within event_type — aggregate-scale
    state, never event-scale."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    s = F.sum("n_events").over(w)
    ss = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    n = F.count(F.lit(1)).over(w)
    mean = s.cast("double") / n.cast("double")
    var = F.greatest(
        ss.cast("double") / n.cast("double") - mean * mean, F.lit(0.0)
    )
    flagged = hourly.select(
        F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "n_events",
        n.alias("n_trailing"),
        F.round(mean, 6).alias("trailing_mean"),
        F.round(F.sqrt(var), 6).alias("trailing_sd"),
        (
            (n >= 12)
            & (F.col("n_events").cast("double") > mean + 3.0 * F.sqrt(var))
        ).alias("is_anomaly"),
    )
    return flagged


EVENTS_ANOMALY_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT hr, event_type, n_events,
         SUM(n_events) OVER w AS s,
         SUM(n_events * n_events) OVER w AS ss,
         COUNT(*) OVER w AS n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT strftime(hr, '%Y-%m-%d %H:00') AS hour,
       event_type,
       n_events,
       n AS n_trailing,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS trailing_mean,
       round(sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)), 6)
         AS trailing_sd,
       (n >= 12) AND (CAST(n_events AS DOUBLE)
         > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           + 3.0 * sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)))
         AS is_anomaly
FROM stats
"""


def events_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-rollup maintenance: the event stream
    drains in THREE micro-batches (staged as three files,
    maxFilesPerTrigger=1); each batch reduces to per-event_type partial
    states (operators/incremental_agg) appended to a parquet state
    table inside foreachBatch, and the final answer assembles from the
    states alone — base events are never rescanned. The oracle
    aggregates the whole table directly, so hash equality proves the
    batch-boundary-invariant merge algebra under real micro-batch
    execution. Production hardening (not needed for availableNow
    drains): key state files by batchId so a replayed batch overwrites
    instead of double-appending — the same idempotent-sink recipe as
    orders_upsert_merge."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    batch = load_table(spark, sf_dir, "events")
    with stream_scratch() as (work, landing):
        state = os.path.join(work, "state")
        for i in range(3):
            batch.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
                os.path.join(landing, f"chunk_{i}")
            )
        stream = normalize_timestamps(
            spark.readStream.schema(batch.schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

        def merge_batch(bdf, batch_id: int) -> None:
            IA.partials(
                bdf, ["event_type"], "value", dec="decimal(18,2)"
            ).write.mode("append").parquet(state)

        drain(
            stream, "events_stream_incremental_rollup", work, landing,
            foreach_batch=merge_batch,
        )
        merged = IA.merge_partials([spark.read.parquet(state)], ["event_type"])
        # the state parquet lives in the scratch dir — materialize the
        # key-grain answer before the scratch goes
        return (
            IA.finalize(merged, ["event_type"])
            .select(
                "event_type",
                "n_rows",
                F.col("total").alias("total_value"),
                "mean",
                "variance",
            )
            .localCheckpoint(eager=True)
        )


EVENTS_STREAM_INCREMENTAL_SQL = """
WITH s AS (
  SELECT event_type, COUNT(value) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sx,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx
  FROM events GROUP BY event_type
),
d AS (
  SELECT event_type, n, sx,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx_d,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx_d
  FROM s
)
SELECT event_type, n AS n_rows,
       sx_d AS total_value,
       sx_d / n AS mean,
       (sxx_d - sx_d * sx_d / n) / NULLIF(n - 1, 0) AS variance
FROM d
"""


def events_stream_view_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-emission half
    of the stream-join surface: views that see no purchase within
    (view_ts, view_ts + 1 h] emit with a NULL purchase_id once the
    watermark proves no match can still arrive. Same bounded-state
    contract as the inner variant (2 h watermarks + time-range
    predicate); the null rows are precisely the outer-join rows whose
    state the watermark expired.

    Oracle note: a batch LEFT JOIN emits null rows for ALL unmatched
    views, but the stream can only emit those whose match window closed
    before the FINAL global watermark = min(max view_ts, max
    purchase_ts) − 2 h — views past that horizon are still "waiting"
    when the drain ends. The oracle replicates that cutoff exactly (it
    is a pure function of the same data), so the gate hash-checks the
    real streaming semantics, watermark truncation included.

    At 100 TB/day: state per side bounded by watermark + interval (≤3 h
    of events) exactly as the inner join; the only addition is the
    per-view "unmatched" bit that rides the existing state row."""
    # keeps the no-data batch: the NULL rows emit exactly there
    return _view_purchase_stream(
        spark, sf_dir, "left_outer", "events_stream_view_purchase_left",
        skip_no_data_batch=False,
    )


EVENTS_STREAM_SSLEFT_SQL = """
WITH wm AS (
  SELECT LEAST(
           (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOUR AS cutoff
)
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id
FROM events v
LEFT JOIN events p
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
CROSS JOIN wm
WHERE v.event_type = 'view'
  AND (p.event_id IS NOT NULL OR v.ts + INTERVAL 1 HOUR < wm.cutoff)
"""


def orders_stream_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC join-view maintenance through the partition-pruned
    apply (the production setting for ``operators/
    incremental_agg.apply_view_changes_pruned``): an on-disk
    orders⋈lineitem view, partitioned by ``pb = orderkey % 20``, is
    maintained by a foreachBatch stream of orders-side CDC events —
    three REAL micro-batches (``maxFilesPerTrigger=1``), each carrying
    one DELETE group (op='D', o%10==3 split by %30 ∈ {3,13,23}) and
    one INSERT group (op='I', o%10==0 split by %30 ∈ {0,10,20}).

    Per batch: Δ⁻ = deleted orders ⋈ lineitem, Δ⁺ = inserted orders ⋈
    lineitem (orders-side CDC, so the single-table delta rule — no
    retained-side term needed), both routed through
    ``apply_view_changes_pruned`` — each trigger reads and rewrites
    ONLY the buckets its keys touch, O(batch·matched + touched
    partitions) per trigger, never O(view). The key sets are disjoint
    across batches, so the final view is batch-order-independent, and
    the oracle is the direct post-change join — a row retracted twice,
    dropped, or double-inserted hash-fails.

    Replay safety: every trigger passes ``batch_marker=f"batch-{id}"``,
    so the apply is SKIP-IF-SEEN — a re-delivered batch (foreachBatch's
    at-least-once contract) is a no-op instead of double-appending its
    inserts (marker protocol in ``apply_view_changes_pruned``;
    replay pytest: test_apply_view_changes_pruned_marker_replay)."""
    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
        sweep_applied_markers,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (
                F.lit(1).cast("decimal(3,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    pb = (F.col("orderkey") % 20).alias("pb")

    with stream_scratch() as (work, landing):
        view_path = os.path.join(work, "view")

        # world state BEFORE the stream: inserts (%10==0) not yet present.
        # REBALANCE by pb before the partitioned write: without it each
        # of the join's write tasks emits one part file per bucket it
        # holds — n_tasks × 20 small files that every trigger's pruned
        # read and the final view scan re-pay in listing/open cost
        # (measured: base write 4.7 s → 1.9 s, final agg 1.0 s → 0.5 s).
        base_o = o.filter(F.col("orderkey") % 10 != 0)

        # three CDC batches, one file each: (D %30==3+10g, I %30==10g).
        # ONE pass generates all three (a per-batch loop would scan
        # orders 3×): the batch index bi = (orderkey%30) div 10
        # partitions the same D/I row sets, and ``_stage_cdc`` lands
        # each bi bucket as one file. The base-view write and the CDC
        # write are independent — submitted concurrently so the join
        # write's task tail back-fills with the CDC job.
        km = F.col("orderkey") % 30
        cdc = (
            base_o.filter(km % 10 == 3)
            .withColumn("op", F.lit("D"))
            .unionByName(o.filter(km % 10 == 0).withColumn("op", F.lit("I")))
            .withColumn("bi", (km / 10).cast("int"))
        )
        par_jobs(
            lambda: base_o.join(li, ["orderkey"])
            .select("orderkey", "o_orderstatus", "rev", pb)
            .hint("rebalance", "pb")
            .write.partitionBy("pb")
            .parquet(view_path),
            lambda: cdc.repartition("bi")
            .write.partitionBy("bi")
            .parquet(os.path.join(work, "ball")),
        )
        _stage_cdc(os.path.join(work, "ball"), landing)

        def _apply(batch, _bid):
            # ONE batch⋈lineitem join per trigger: per-op joins
            # (deletes⋈li, inserts⋈li) would each scan the cached
            # lineitem when the operator materializes its delta
            # caches — the fused join runs once into a delta-scale
            # eager checkpoint (blocks freed with the Python ref) and
            # both op slices are map-side filters of it.
            j = (
                batch.join(li_static, ["orderkey"])
                .select("orderkey", "o_orderstatus", "rev", pb, "op")
                .localCheckpoint(eager=True)
            )
            retract = j.filter(F.col("op") == "D").drop("op")
            inserts = j.filter(F.col("op") == "I").drop("op")
            # retract_anti_keys: the CDC deletes WHOLE orders, so every
            # view row of a retracted orderkey goes — the broadcast-anti
            # fast path is multiset-identical to the exceptAll and saves
            # its two-sided slice shuffle per trigger (oracle
            # hash-proved, the general exceptAll path stays gated by
            # orders_join_ivm_retract_pruned)
            apply_view_changes_pruned(
                spark, view_path, retract=retract, inserts=inserts,
                bucket_col="pb", batch_marker=f"batch-{_bid}",
                retract_anti_keys=["orderkey"],
            )
            # marker retention AFTER this batch's marker lands (bounded
            # _applied/ footprint; keep_last=2 > redelivery depth 1)
            sweep_applied_markers(spark, view_path, keep_last=2)

        schema = "orderkey long, o_orderstatus string, op string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        with cached(li) as li_static:
            drain(stream, "orders_stream_join_ivm", work, landing, foreach_batch=_apply)
        return (
            spark.read.parquet(view_path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("rev").cast("double").alias("sum_revenue"),
            )
            .orderBy("o_orderstatus")
            .localCheckpoint(eager=True)
        )


ORDERS_STREAM_JOIN_IVM_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
       ) AS DOUBLE) AS sum_revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 10 <> 3
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def orders_stream_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC maintenance of a materialized ROLLUP with
    non-invertible aggregates (the aggregate complement of
    ``orders_stream_join_ivm``, composing the whole IVM family in its
    production shape): a (status, priority) price rollup's partial
    state AND its underlying on-disk row table are both maintained
    from one foreachBatch stream of orders CDC events — the same three
    real micro-batches (delete %30 ∈ {3,13,23} / insert %30 ∈
    {0,10,20}).

    Per trigger, in replay-safe order:

    1. state step (skip if this batch's state version exists):
       ``retract_partials`` subtracts the deletes' partials exactly
       (count/Σx/Σx²) and lazily recomputes min/max only for
       extreme-touched groups against the PRE-apply row table, then
       ``merge_partials`` folds in the inserts' partials; the new
       state lands as an immutable per-batch VERSION
       (``state/v{batch}``) — key-grain, tiny.
    2. row step (skip-if-seen batch marker): the CDC applies to the
       bucketed row table through ``apply_view_changes_pruned`` so
       the next trigger's recompute reads a current base.

    Versioned state + marker-gated row apply make a re-delivered
    batch a no-op in both steps (each step's artifact existence IS
    its marker); the residual crash window is between a step's write
    and the next step, same class as foreachBatch's own guidance —
    but note the two-step plan WIDENS it relative to the
    single-apply join query: a crash after the state version's
    ``_SUCCESS`` but before the row apply's marker redelivers a batch
    whose state step skips (version exists) while the row step
    re-runs — which is exactly the intended recovery — and a crash
    inside the row apply itself (between its dynamic overwrite and
    its marker) double-appends that batch's inserts on redelivery,
    the window ``apply_view_changes_pruned`` documents.

    State retention: after each version
    commits, ``sweep_state_versions(keep_last=2)`` deletes all but
    the newest 2 committed versions — the state FOOTPRINT and the
    per-trigger ``_latest_state`` directory listing are both bounded
    at O(keep_last) instead of growing one immutable version per
    trigger for the stream's lifetime. keep_last=2 > foreachBatch's
    redelivery depth (1), so a replayed batch still finds its own
    version and skips the state step after the sweep.

    Cost per trigger: O(Δ + touched-group rows) state maintenance +
    O(touched partitions) row apply — the rollup is never recomputed
    from scratch and the row table is never rewritten whole. The
    oracle aggregates the direct post-change table (variance
    included), so a double-retract, missed extreme recompute, or
    replayed insert hash-fails."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    keys = ["o_orderstatus", "o_orderpriority"]
    pb = (F.col("o_orderkey") % 20).alias("pb")

    with stream_scratch() as (work, landing):
        rows_path = os.path.join(work, "rows")
        state_dir = os.path.join(work, "state")
        os.makedirs(state_dir)

        base = o.filter(F.col("o_orderkey") % 10 != 0)
        km = F.col("o_orderkey") % 30
        cdc = (
            base.filter(km % 10 == 3)
            .withColumn("op", F.lit("D"))
            .unionByName(o.filter(km % 10 == 0).withColumn("op", F.lit("I")))
            .withColumn("bi", (km / 10).cast("int"))
        )
        # rebalance-by-bucket write + one-pass CDC generation: same
        # optimizations (and measured rationale) as
        # orders_stream_join_ivm. The three setup writes are independent
        # outputs of the same orders scan — submitted concurrently so
        # each job's task tail back-fills with the next job's tasks.
        par_jobs(
            lambda: base.select(*o.columns, pb)
            .hint("rebalance", "pb")
            .write.partitionBy("pb")
            .parquet(rows_path),
            lambda: IA.partials(base, keys, "o_totalprice")
            .coalesce(1)
            .write.parquet(os.path.join(state_dir, "v00000")),
            lambda: cdc.repartition("bi")
            .write.partitionBy("bi")
            .parquet(os.path.join(work, "ball")),
        )
        _stage_cdc(os.path.join(work, "ball"), landing)

        def _latest_state() -> str:
            # numeric order, not lexicographic: the zero-padded v{bid:05d}
            # names sort correctly as strings only until the counter
            # outgrows the pad width (v100000 < v99999 as strings) — same
            # ordering contract as sweep_state_versions
            committed = sorted(
                (
                    v
                    for v in os.listdir(state_dir)
                    if os.path.exists(os.path.join(state_dir, v, "_SUCCESS"))
                ),
                key=lambda n: int(n.lstrip("v")),
            )
            return os.path.join(state_dir, committed[-1])

        def _apply(batch, bid):
            d = batch.filter(F.col("op") == "D").drop("op")
            i = batch.filter(F.col("op") == "I").drop("op")
            vpath = os.path.join(state_dir, f"v{bid + 1:05d}")
            # commit marker is parquet's own _SUCCESS, not the directory:
            # Spark creates the dir (and partial parts) before job commit,
            # so a crash mid-write must NOT make the redelivery skip the
            # state step against an uncommitted version
            if not os.path.exists(os.path.join(vpath, "_SUCCESS")):
                shutil.rmtree(vpath, ignore_errors=True)  # partial crash debris
                prev = spark.read.parquet(_latest_state())
                cur_rows = spark.read.parquet(rows_path).drop("pb")
                # The eager localCheckpoint is load-bearing for the
                # coalesce(1) below: coalesce is a narrow dependency, so
                # on an un-checkpointed plan it collapses every upstream
                # stage to ONE task (removal measured +0.3-0.7 s/run
                # interleaved despite −9 jobs); checkpointed, the state
                # computes at loop parallelism and only the final 1-file
                # write is serial. coalesce(1) after it costs nothing
                # (the state is key-grain) and keeps each version at one
                # file, so the per-trigger _latest_state read pays one
                # open instead of shuffle-partition-many.
                # anti_keys: the CDC deletes WHOLE orders and the row table
                # holds one row per orderkey, so the extreme-recompute
                # retained slice is a broadcast-anti on the delete keys —
                # multiset-identical to the exceptAll, minus its two-sided
                # shuffle of the touched-group rows per trigger (the
                # general exceptAll path stays oracle-gated by
                # orders_rollup_minmax_retract)
                new_state = IA.merge_partials(
                    [
                        IA.retract_partials(
                            prev, d, cur_rows, keys, "o_totalprice",
                            anti_keys=["o_orderkey"],
                        ),
                        IA.partials(i, keys, "o_totalprice"),
                    ],
                    keys,
                ).localCheckpoint(eager=True)
                new_state.coalesce(1).write.parquet(vpath)
            # retention AFTER the new _SUCCESS lands: bounded state
            # footprint, replay protection intact (keep_last=2 > the
            # foreachBatch redelivery depth of 1)
            IA.sweep_state_versions(state_dir, keep_last=2)
            # whole-key CDC deletes (one row per orderkey in the row
            # table) — broadcast-anti fast path, see orders_stream_join_ivm
            IA.apply_view_changes_pruned(
                spark,
                rows_path,
                retract=d.select(*o.columns, pb),
                inserts=i.select(*o.columns, pb),
                bucket_col="pb",
                batch_marker=f"batch-{bid}",
                retract_anti_keys=["o_orderkey"],
            )
            # marker retention mirrors the state-version sweep above:
            # bounded _applied/ footprint, keep_last=2 > redelivery depth 1
            IA.sweep_applied_markers(spark, rows_path, keep_last=2)

        schema = (
            "o_orderkey long, o_orderstatus string, o_orderpriority string, "
            "o_totalprice double, op string"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        drain(stream, "orders_stream_rollup_ivm", work, landing, foreach_batch=_apply)
        return (
            IA.finalize(spark.read.parquet(_latest_state()), keys)
            .orderBy(*keys)
            .localCheckpoint(eager=True)
        )
