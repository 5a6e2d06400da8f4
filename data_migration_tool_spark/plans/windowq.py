"""Window-function breadth + deterministic sampling plans.

The reference's window needs are only latest-run and ordered-concat
(SURVEY §2.5); a complete analytics engine also needs the OLAP window
family (lag/lead, running frames, sessionization) and — for the
training-data pipeline mandate — *deterministic* sampling/splitting that
is stable at 100 TB and identical on any engine.

Hash-based sampling: `substr(md5(key),1,k)` range predicates. Unlike
`rand(seed)` (engine- and partitioning-dependent), an md5 prefix is a
pure function of the key — the same rows are selected on Spark, DuckDB,
or anything else, at any parallelism, on any rerun. This is the
standard way to carve stable train/val/test splits out of a petabyte
corpus without a shuffle or a stored membership table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_migration_tool_spark.functions.scalars import dsum
from data_migration_tool_spark.tables import load_table


# ---------------------------------------------------------------------------
# Gap-based sessionization (lag + running conditional sum)
# ---------------------------------------------------------------------------

def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each user's event stream into sessions at >30-minute gaps,
    then aggregate per session. Two stacked windows over the same
    (user_id, ts) ordering → one shuffle on user_id total; the session
    assignment is a running sum of gap flags, never a self-join.
    At 100 TB: user_id is the natural partition key and a power user
    degrades exactly one task. NOTE: AQE cannot split a WINDOW
    partition (skew-join splitting applies to joins only), so the
    single-task ceiling here is one user's full history; when that is
    itself too large, `events_session_window_native` is the skew-robust
    twin — its session_window groupBy partial-aggregates map-side, so
    a hot user's events combine before the shuffle. The two paths'
    boundary semantics agree exactly (gap == 30 min stays one session);
    the power-user agreement test in test_plans.py pins that."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer microseconds — timestamps carry sub-second precision, and
    # truncated-seconds arithmetic would move session boundaries
    us = F.unix_micros(F.col("ts"))
    gap_flag = F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1).otherwise(0)
    sess = e.withColumn("new_sess", gap_flag).withColumn(
        "session_id", F.sum("new_sess").over(w)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts")))).alias(
            "duration_us"
        ),
        dsum("value").alias("sum_value"),
    )


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` operator
    (dynamic-gap session windows in the groupBy itself — no manual
    lag/cumsum plumbing), value-checked against the classic
    gaps-and-islands SQL. Native boundary semantics (verified against a
    hand-built exact-gap pair in tests): an event whose window TOUCHES
    the previous event's [t, t+gap) window still merges, so a gap of
    exactly 30min stays in the SAME session — the oracle flags breaks
    with strict ``>``, matching ``user_sessions``. Same single user_id
    shuffle as the hand-built variant."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


SESSION_WINDOW_NATIVE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(epoch_us(ts)) AS session_start_us,
       MAX(epoch_us(ts)) + 1800 * 1000000 AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


USER_SESSIONS_SQL = """
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


# ---------------------------------------------------------------------------
# Running revenue + prev/next framing (lag/lead + cumulative frame)
# ---------------------------------------------------------------------------

def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: previous order price (lag), next
    order date (lead), cumulative spend (running decimal sum — exact,
    so the running values are engine-identical). One shuffle on
    o_custkey serves all three window functions (same spec)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias(
            "next_order_date"
        ),
        F.sum(price_dec)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


CUSTOMER_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice,
       LAG(o_totalprice) OVER w AS prev_price,
       strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS next_order_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
       ROW_NUMBER() OVER w AS order_seq
FROM orders
WHERE o_custkey < 300
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# Deterministic hash sampling (engine-portable, shuffle-free)
# ---------------------------------------------------------------------------

def doc_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~5% deterministic sample of documents: md5(doc_id) prefix below
    '0d' (13/256 ≈ 5.1%). A pure per-row predicate — no shuffle, no
    RNG state, no seed plumbing; the same doc_ids are selected at any
    scale, parallelism, or engine. At 100 TB this is a scan-only
    filter that combines with column pruning."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.filter(pref < "0d").select(
        "doc_id", "lang", "source", "n_chars"
    )


DOC_HASH_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
"""


def doc_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by md5 prefix range
    (~90/5/5) and report per-split, per-language corpus stats. The
    assignment is a pure function of doc_id — rows never move between
    splits when the corpus grows, which is the property a 100 TB
    training pipeline actually needs (rerun-stable membership without
    a membership table)."""
    d = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(pref < "e6", "train")  # 0x00-0xe5 → 230/256 ≈ 89.8%
        .when(pref < "f3", "val")  # 0xe6-0xf2 → 13/256 ≈ 5.1%
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


DOC_SPLIT_SQL = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


def doc_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export: every doc gets a shard (md5-keyed, 8-way here) and a
    within-shard position ordered by the same hash — the
    "shuffle the corpus, write N shards" step before training reads.

    The ordering key is a pure function of doc_id, so the shuffle is
    reproducible run-to-run and engine-to-engine — no RNG state, no
    seed plumbing, rerun-stable when the pipeline restarts.

    Scale: one exchange on shard + an in-partition sort (a shard
    writer runs it as repartition → sortWithinPartitions → write).
    n_shards scales with the corpus (64k shards at 100 TB keeps each
    ~1.6 GB); the row_number within a shard is a partition-local
    operator, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", key.alias("k"))
    shard = (F.conv(F.substring("k", 1, 2), 16, 10).cast("int") % 8).alias("shard")
    w = Window.partitionBy("shard").orderBy("k")
    return (
        keyed.select("doc_id", shard, "k")
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training export: documents are laid out
    densely into fixed-size token windows (seq_len=4096) — each doc
    gets (shard, pack_id, offset) telling the training reader exactly
    where its tokens start. Packing order inside a shard is the same
    deterministic md5 key as the shard export, so the layout is
    rerun-stable and engine-portable.

    Scale: one exchange on shard + an in-partition running sum (window
    cumsum over the shard's hash order — partition-local after the one
    shuffle). The greedy-by-hash-order policy is what makes packing
    parallelizable: a globally-sequential first-fit packer cannot
    distribute, per-shard streaming assignment can. Docs longer than a
    window spill into the next pack by construction (offset + n_tokens
    > seq_len), which is standard contiguous packing."""
    seq_len = 4096
    d = load_table(spark, sf_dir, "documents")
    from data_migration_tool_spark.functions.text import token_count

    key = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id",
        key.alias("k"),
        token_count("text").alias("n_tokens"),
    ).withColumn(
        "shard", (F.conv(F.substring("k", 1, 2), 16, 10).cast("int") % 8)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    pack = F.floor(F.col("start").cast("double") / F.lit(float(seq_len))).cast(
        "bigint"
    )
    return (
        keyed.select("doc_id", "shard", "n_tokens", start)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            pack.alias("pack_id"),
            (F.col("start") - pack * F.lit(seq_len)).alias("offset"),
        )
    )


DOC_PACKING_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5(concat('shard:', CAST(doc_id AS VARCHAR))) AS k,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
),
sharded AS (
  SELECT doc_id, k, n_tokens,
         CAST(concat('0x', substr(k, 1, 2)) AS INT) % 8 AS shard
  FROM keyed
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS start
  FROM sharded
)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR(CAST(start AS DOUBLE) / 4096.0) AS BIGINT) AS pack_id,
       start - CAST(FLOOR(CAST(start AS DOUBLE) / 4096.0) AS BIGINT) * 4096
         AS offset
FROM packed
"""


DOC_SHARDS_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5(concat('shard:', CAST(doc_id AS VARCHAR))) AS k
  FROM documents
),
sharded AS (
  SELECT doc_id,
         CAST(concat('0x', substr(k, 1, 2)) AS INT) % 8 AS shard,
         k
  FROM keyed
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k) AS INT) AS pos
FROM sharded
"""


# ---------------------------------------------------------------------------
# As-of join (operators/asof) — purchase attribution to the last view
# ---------------------------------------------------------------------------

def purchase_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined as-of to the user's most recent view
    (view.ts <= purchase.ts): classic attribution / quote-trade shape.
    Oracle = DuckDB's NATIVE ASOF JOIN, so the union-trick rewrite is
    checked against an independent implementation of the semantics.
    One shuffle on user_id (see operators/asof.py)."""
    from data_migration_tool_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", "value"
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["view_id", "value"],
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "view_id",
        F.col("value").alias("view_value"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("matched_ts"))).alias(
            "us_since_view"
        ),
    )


PURCHASE_ASOF_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       v.value AS view_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS us_since_view
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
"""


def next_view_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with a tolerance bound: each purchase joined to the
    user's next view within 24h (pandas ``merge_asof``
    direction='forward', tolerance semantics). Oracle = DuckDB's native
    ASOF with the inequality reversed + a gap filter, so the
    direction/tolerance options are checked against an independent
    implementation. Same single user_id shuffle as the backward form."""
    from data_migration_tool_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", "value"
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["view_id", "value"],
        direction="forward",
        tolerance_seconds=86400.0,
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "view_id",
        F.col("value").alias("view_value"),
        (F.unix_micros(F.col("matched_ts")) - F.unix_micros(F.col("ts"))).alias(
            "us_until_view"
        ),
    )


NEXT_VIEW_ASOF_SQL = """
SELECT user_id, purchase_id,
       CASE WHEN ok THEN view_id END AS view_id,
       CASE WHEN ok THEN view_value END AS view_value,
       CASE WHEN ok THEN us_until_view END AS us_until_view
FROM (
  SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
         v.value AS view_value,
         epoch_us(v.ts) - epoch_us(p.ts) AS us_until_view,
         v.event_id IS NOT NULL
           AND epoch_us(v.ts) - epoch_us(p.ts) <= 86400000000 AS ok
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.ts >= p.ts
)
"""


# ---------------------------------------------------------------------------
# Range join (operators/rangejoin) — views inside post-error windows
# ---------------------------------------------------------------------------

def overlapping_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user pairs of 30-minute error windows that overlap, with the
    overlap duration — the interval-overlap join (incident/episode
    merging) via the binned equi-join rewrite
    (operators/rangejoin.interval_overlap_join), oracled against
    DuckDB's raw double-inequality self-join."""
    from data_migration_tool_spark.operators.rangejoin import interval_overlap_join

    e = load_table(spark, sf_dir, "events")
    win = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    a = win.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("w_start").alias("a_start"),
        F.col("w_end").alias("a_end"),
    )
    b = win.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("w_start").alias("b_start"),
        F.col("w_end").alias("b_end"),
    )
    joined = interval_overlap_join(
        a, b,
        on=["user_id"],
        left_start="a_start", left_end="a_end",
        right_start="b_start", right_end="b_end",
        grain_us=1800 * 1_000_000,
    ).filter(F.col("id_a") < F.col("id_b"))
    return joined.select(
        "user_id",
        "id_a",
        "id_b",
        (
            F.least(F.unix_micros("a_end"), F.unix_micros("b_end"))
            - F.greatest(F.unix_micros("a_start"), F.unix_micros("b_start"))
        ).alias("overlap_us"),
    )


OVERLAPPING_ERRORS_SQL = """
WITH w AS (
  SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
  FROM events WHERE event_type = 'error'
)
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
FROM w a JOIN w b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
"""


def error_window_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every error event opens a 1-hour window; count the same user's
    views inside it (zeros kept). Runs the bucketized range-join
    rewrite (equi-join on (user, hour-bucket) + residual), oracled
    against DuckDB's direct inequality join. Grain = window length →
    each interval explodes to ≤2 buckets."""
    from data_migration_tool_spark.operators.rangejoin import point_in_interval_join

    e = load_table(spark, sf_dir, "events")
    hour_us = 3600 * 1_000_000
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("w_start"),
        (F.timestamp_micros(F.unix_micros(F.col("ts")) + hour_us)).alias("w_end"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", "value"
    )
    joined = point_in_interval_join(
        views,
        errors,
        on=["user_id"],
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        grain_us=hour_us,
        how="left",
    )
    return joined.groupBy("user_id", "error_id").agg(
        F.count("view_id").alias("n_views"),
        dsum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_view_value"),
    )


ERROR_WINDOW_SQL = """
SELECT e.user_id, e.event_id AS error_id,
       COUNT(v.event_id) AS n_views,
       CAST(SUM(CAST(COALESCE(v.value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_view_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = e.user_id
 AND epoch_us(v.ts) >= epoch_us(e.ts)
 AND epoch_us(v.ts) < epoch_us(e.ts) + CAST(3600 AS BIGINT) * 1000000
GROUP BY e.user_id, e.event_id
"""


def customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family (ntile / percent_rank / cume_dist) over
    per-nation balance order. Partitioned by nation deliberately: a
    global ORDER BY window is a single-reducer sort at 100 TB, while
    per-key windows ride one hash exchange like any other window. The
    (acctbal, custkey) sort key is a total order, so every rank value
    is deterministic cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


CUSTOMER_QUARTILES_SQL = """
SELECT c_custkey, c_nationkey,
       NTILE(4) OVER w AS bal_quartile,
       percent_rank() OVER w AS bal_pct_rank,
       cume_dist() OVER w AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def user_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view → click → purchase): users per
    deepest stage reached, where each stage must happen within 24h
    at-or-after the previous stage's first event (the deadline is what
    makes the funnel discriminate — without it every active user
    converts). Each stage is a type-pruned scan aggregated to user
    grain before the next join, so the joins run at user grain, not
    event grain; three combinable shuffles total, all on user_id
    (co-partitioned — AQE reuses the exchange layout). Timestamps
    compare as integer microseconds (unix_micros ↔ DuckDB epoch_us) so
    micro/nano parquet precision cannot skew the stage boundaries
    cross-engine."""
    day_us = 24 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") >= F.col("v_us"))
            & (F.col("ts_us") < F.col("v_us") + F.lit(day_us))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") >= F.col("c_us"))
            & (F.col("ts_us") < F.col("c_us") + F.lit(day_us))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_us"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            F.when(F.col("p_us").isNotNull(), F.lit(3))
            .when(F.col("c_us").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("stage")
        )
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


USER_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
v AS (
  SELECT user_id, MIN(ts_us) AS v_us FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT ev.user_id, MIN(ts_us) AS c_us FROM ev
  JOIN v ON ev.user_id = v.user_id
  WHERE event_type = 'click' AND ts_us >= v_us
    AND ts_us < v_us + CAST(86400 AS BIGINT) * 1000000
  GROUP BY ev.user_id
),
p AS (
  SELECT ev.user_id, MIN(ts_us) AS p_us FROM ev
  JOIN c ON ev.user_id = c.user_id
  WHERE event_type = 'purchase' AND ts_us >= c_us
    AND ts_us < c_us + CAST(86400 AS BIGINT) * 1000000
  GROUP BY ev.user_id
)
SELECT CASE WHEN p_us IS NOT NULL THEN 3
            WHEN c_us IS NOT NULL THEN 2
            ELSE 1 END AS stage,
       COUNT(*) AS n_users
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
GROUP BY 1
"""


def customer_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 derivation over the order log: per customer, collapse
    consecutive same-status orders and emit validity intervals
    (valid_from / valid_to / is_current). Both stacked windows (change
    lag, interval lead) share one (custkey × date, orderkey) exchange;
    (o_orderdate, o_orderkey) is a total order so the collapse is
    deterministic cross-engine."""
    from data_migration_tool_spark.operators.merge import scd2_history

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus"
    )
    return scd2_history(
        o,
        keys=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        track_cols=["o_orderstatus"],
    ).select("o_custkey", "o_orderstatus", "valid_from", "valid_to", "is_current")


CUSTOMER_STATUS_HISTORY_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
         LAG(o_orderstatus) OVER w AS prev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
ch AS (
  SELECT * FROM ordered WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey, o_orderstatus,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER w AS valid_to,
       LEAD(o_orderdate) OVER w IS NULL AS is_current
FROM ch
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def customer_order_bookends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with an explicit
    whole-partition frame — the frame is the point: last_value under
    the default RANGE frame (up to current row) silently returns the
    CURRENT row, a classic window bug; the unbounded frame makes all
    three functions see the full per-customer order history. One
    exchange serves all three plus the dedup row_number. Total order
    (date, orderkey) keeps every value deterministic cross-engine."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            F.first("o_totalprice").over(wf).alias("first_price"),
            F.last("o_totalprice").over(wf).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
            F.row_number().over(w).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


CUSTOMER_BOOKENDS_SQL = """
SELECT o_custkey, first_price, last_price, second_price FROM (
  SELECT o_custkey,
         first_value(o_totalprice) OVER wf AS first_price,
         last_value(o_totalprice) OVER wf AS last_price,
         nth_value(o_totalprice, 2) OVER wf AS second_price,
         ROW_NUMBER() OVER w AS rn
  FROM orders
  WHERE o_custkey < 200
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Retention cohorts (first-touch week × activity-week offset)
# ---------------------------------------------------------------------------

def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-event week,
    counted distinct in each subsequent week offset. Two shuffles on
    user_id (first-touch agg, then the event join — co-partitioned, so
    AQE plans them back-to-back without a third exchange) and one
    final small agg at (cohort × offset) grain."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorts = first.select(
        "user_id",
        F.date_trunc("week", F.col("first_ts")).cast("date").alias("cw"),
    )
    return (
        ev.join(cohorts, "user_id")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cw")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


USER_RETENTION_SQL = """
WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
c AS (SELECT user_id, CAST(date_trunc('week', first_ts) AS DATE) AS cw FROM f)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cw, CAST(e.ts AS DATE)) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_active
FROM events e JOIN c ON c.user_id = e.user_id
GROUP BY 1, 2
"""


def customer_rolling_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: for every order, the
    customer's total spend over the trailing 30 days — frame bounds
    defined by the ORDER BY value (epoch seconds), not row offsets, so
    same-timestamp peers aggregate identically at any parallelism.
    One shuffle on o_custkey; the running sums accumulate in exact
    decimal and the FINAL projection rounds once to double (Spark
    decimal->double == BigDecimal.doubleValue; the oracle routes its
    decimal through VARCHAR so DuckDB also rounds once — the house
    pattern, see validationq.py). This is the time-windowed-consumption
    shape of the reference's incremental loads
    (hive_bq_load_utils_inc.py:60-79) expressed as a window."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    epoch = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("orders_30d"),
    )


CUSTOMER_ROLLING_30D_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS VARCHAR) AS DOUBLE) AS spend_30d,
       COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS orders_30d
FROM orders WHERE o_custkey < 300
"""


_ORDER_CHAIN_RECURSIVE_SQL = """
WITH RECURSIVE nexts AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         LEAD(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS next_key,
         LAG(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev_key
  FROM {orders} WHERE o_custkey < 100
),
chain AS (
  SELECT o_custkey, o_orderkey, next_key, 1 AS step,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,2)) AS cum_spend
  FROM nexts WHERE prev_key IS NULL
  UNION ALL
  SELECT n.o_custkey, n.o_orderkey, n.next_key, c.step + 1,
         CAST(c.cum_spend + CAST(n.o_totalprice AS DECIMAL(18,2))
              AS DECIMAL(38,2))
  FROM chain c JOIN nexts n ON n.o_orderkey = c.next_key
)
SELECT o_custkey, o_orderkey, step,
       -- recursion accumulates exact decimal; the final projection
       -- rounds ONCE to double, routed through a string so both
       -- engines use correctly-rounded text->double (DuckDB's direct
       -- DECIMAL->DOUBLE cast double-rounds through int128/10^scale)
       CAST(CAST(cum_spend AS STRING) AS DOUBLE) AS cum_spend
FROM chain
"""


def customer_order_chains_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE executed by Spark itself (4.x recursive CTEs) —
    the hierarchical-walk shape Teradata/Oracle migrations carry
    (CONNECT BY org charts, next-pointer chains). A non-recursive CTE
    precomputes each order's successor (one LEAD window = one shuffle);
    the recursion is then a pure linked-list walk accumulating an exact
    decimal running total, terminating because every step consumes one
    list node (no cycles — UNION ALL is safe). The DuckDB oracle runs
    the IDENTICAL statement, so this also pins cross-engine recursive
    semantics. Depth = max orders per customer (~41 in TPC-H data,
    SF-independent), far under Spark's recursion limit.

    r13 (guide §1.2, don't recompute): the successor table is
    MATERIALIZED (lazy localCheckpoint) before the recursion. Spark
    inlines a non-recursive CTE into every reference, and the loop
    body references ``nexts`` once per iteration — ~41 iterations each
    re-ran the orders scan + LEAD/LAG window (measured 4.32 s; with
    the walk joining the materialized table instead: 1.94 s,
    rows identical). DuckDB materializes the CTE once either way, so
    the oracle statement is unchanged."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rec_orders")
    spark.sql(
        _ORDER_CHAIN_NEXTS_SQL.format(orders="rec_orders")
    ).localCheckpoint(eager=False).createOrReplaceTempView("rec_nexts_mat")
    return spark.sql(_ORDER_CHAIN_WALK_SQL.format(nexts="rec_nexts_mat"))


CUSTOMER_ORDER_CHAINS_SQL = _ORDER_CHAIN_RECURSIVE_SQL.format(orders="orders")

# Spark-side split of _ORDER_CHAIN_RECURSIVE_SQL (r13): the successor
# CTE runs alone (then materializes), the recursive walk joins the
# materialized view. Any edit here must keep the pieces textually in
# sync with the combined oracle statement above.
_ORDER_CHAIN_NEXTS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       LEAD(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS next_key,
       LAG(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS prev_key
FROM {orders} WHERE o_custkey < 100
"""

_ORDER_CHAIN_WALK_SQL = """
WITH RECURSIVE chain AS (
  SELECT o_custkey, o_orderkey, next_key, 1 AS step,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,2)) AS cum_spend
  FROM {nexts} WHERE prev_key IS NULL
  UNION ALL
  SELECT n.o_custkey, n.o_orderkey, n.next_key, c.step + 1,
         CAST(c.cum_spend + CAST(n.o_totalprice AS DECIMAL(18,2))
              AS DECIMAL(38,2))
  FROM chain c JOIN {nexts} n ON n.o_orderkey = c.next_key
)
SELECT o_custkey, o_orderkey, step,
       CAST(CAST(cum_spend AS STRING) AS DOUBLE) AS cum_spend
FROM chain
"""


def doc_semantic_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-coherent sequence packing (the in-context-pretraining
    layout): instead of hash-sharding docs into packs at random,
    documents are grouped by their embedding-space topic (the
    embeddings table's label, joined on doc_id = vec_id) and packed
    contiguously WITHIN topic — so each 2048-token training window
    carries related documents, which is the whole point of semantic
    packing. Order inside a topic is the deterministic md5 key, so the
    layout is rerun-stable; all outputs are integers.

    Scale: one broadcast-sized join to fetch labels (id + label width,
    embeddings never move), one exchange on topic + an in-partition
    cumsum — identical shape to ``doc_sequence_packing`` with topic as
    the shard key. Topic skew is bounded by the clustering (a topic is
    at most the corpus), and the packer stays parallel per topic."""
    seq_len = 2048
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("topic")
    )
    from data_migration_tool_spark.functions.text import token_count

    keyed = (
        d.select(
            "doc_id",
            F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("k"),
            token_count("text").alias("n_tokens"),
        )
        .join(e, "doc_id")
    )
    w = (
        Window.partitionBy("topic")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    pack = F.expr(f"start div {seq_len}")
    return (
        keyed.select("doc_id", "topic", "n_tokens", start)
        .select(
            "doc_id",
            "topic",
            "n_tokens",
            pack.cast("bigint").alias("pack_id"),
            (F.col("start") % F.lit(seq_len)).cast("bigint").alias("offset"),
        )
    )


DOC_SEMANTIC_PACKING_SQL = """
WITH keyed AS (
  SELECT d.doc_id,
         md5(concat('pack:', CAST(d.doc_id AS VARCHAR))) AS k,
         len(list_filter(string_split(d.text, ' '), t -> t <> '')) AS n_tokens,
         e.label AS topic
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
packed AS (
  SELECT doc_id, topic, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY topic ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS start
  FROM keyed
)
SELECT doc_id, topic, n_tokens,
       start // 2048 AS pack_id,
       CAST(start % 2048 AS BIGINT) AS offset
FROM packed
"""
