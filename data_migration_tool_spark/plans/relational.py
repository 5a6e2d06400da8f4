"""Headline relational plans — the audit-SQL and workload shapes of the
reference (SURVEY §2.2-§2.8) instantiated over the TPC-H-ish testdata.

Each plan is a (DataFrame builder, DuckDB oracle SQL) pair registered in
``plans.registry``. Builders are pure DataFrame API: Catalyst gets a full
declarative plan (pushdown/pruning/join-selection free), and every
aggregate over doubles goes through the exact-decimal pattern
(``functions.scalars.dsum``) so values are bit-stable at any parallelism.

Scale notes are given per plan ("at 100 TB:" comments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_migration_tool_spark.functions.scalars import (
    davg,
    dsum,
    ordered_string_agg,
)
from data_migration_tool_spark.tables import load_table


def _disc_price():
    """``l_extendedprice * (1 - l_discount)`` computed entirely in
    decimal. Casting a *computed* double to decimal is not portable
    across engines (different scaling/rounding paths); casting the raw
    2-decimal inputs is, and decimal multiplication is then exact in any
    engine. Result scale 4, exact."""
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    return price * disc


def _charge():
    """``l_extendedprice * (1 - l_discount) * (1 + l_tax)`` — exact
    decimal, scale 6."""
    tax = F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(4,2)")
    return _disc_price() * tax


# ---------------------------------------------------------------------------
# Q1-style pricing summary (SURVEY A1/A5/A6 aggregate shape; flagship)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate scan. At 100 TB: single shuffle on 6 tiny groups
    with map-side partial aggregation; filter + 7-column projection reach
    the parquet scan (PushedFilters / ReadSchema)."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = _disc_price()
    charge = _charge()
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3-style: join + grouped agg + top-k (SURVEY J1 + A8 + O-limits)
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⨝ orders ⨝ lineitem. At 100 TB: customer-filter side is
    small → AQE converts to broadcast; orders⨝lineitem shuffles on
    orderkey; top-k is a TakeOrdered, no global sort."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue")
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q5-style: 6-table join (SURVEY J1 broadcast chain)
# ---------------------------------------------------------------------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region→nation→(customer, supplier)→orders→lineitem with the TPC-H
    "local supplier" constraint. At 100 TB: region/nation/supplier are
    broadcast dims; the only big shuffle is orders⨝lineitem."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue")
        )
    )


Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation, region
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Latest-row-per-key window (SURVEY A3: replaces correlated MAX subquery)
# ---------------------------------------------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (user_id, ts desc). At 100 TB: one shuffle on
    user_id; no correlated subquery re-scan like the reference's SQL."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        )
    )


LATEST_EVENT_SQL = """
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Top-1 order per customer (window top-k per group)
# ---------------------------------------------------------------------------

def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


TOP_ORDER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Anti-join: rerun protocol shape (SURVEY J2 — "tables not yet loaded")
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti — the reference's restartability anti-join
    (constants.py:28-38). At 100 TB: null-aware-free anti join, AQE can
    broadcast the loaded-keys side when small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


CUST_NO_ORDERS_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Semi-join membership filter (SURVEY P10/U4)
# ---------------------------------------------------------------------------

def suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > F.lit(45)
    )
    return (
        s.join(l, s.s_suppkey == l.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
    )


SUPPLIERS_SEMI_SQL = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
"""


# ---------------------------------------------------------------------------
# Ordered string aggregation (SURVEY A4 — STRING_AGG ... ORDER BY)
# ---------------------------------------------------------------------------

def nation_customer_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING_AGG(c_name ORDER BY c_custkey) per nation — the reference's
    clustering-column concat (constants.py:54-64). At 100 TB: per-group
    array_sort after partial collect_list; no window, single shuffle."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.groupBy("c_nationkey").agg(
        ordered_string_agg("c_name", "c_custkey").alias("customers"),
        F.count(F.lit(1)).alias("n_customers"),
    )


NATION_ROSTER_SQL = """
SELECT c_nationkey,
       STRING_AGG(c_name, ',' ORDER BY c_custkey) AS customers,
       COUNT(*) AS n_customers
FROM customer WHERE c_custkey < 300
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# GROUP BY + HAVING with conditional sum (SURVEY A2)
# ---------------------------------------------------------------------------

def fully_open_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema-validation-success query shape
    (teradata_data_load_dag.py:133-150): groups where no row failed."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("n_finished"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_finished") == 0)
        .select("o_custkey", "n_orders")
    )


FULLY_OPEN_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) = 0
"""


# ---------------------------------------------------------------------------
# UNION ALL of two sources (SURVEY U1) + distinct (A5)
# ---------------------------------------------------------------------------

def order_line_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), F.lit("order").alias("src")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.lit("line").alias("src")
    )
    return o.unionByName(l).groupBy("src").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("key").alias("n_keys"),
    )


UNION_COUNTS_SQL = """
SELECT src, COUNT(*) AS n_rows, COUNT(DISTINCT key) AS n_keys
FROM (
  SELECT o_orderkey AS key, 'order' AS src FROM orders
  UNION ALL
  SELECT l_orderkey AS key, 'line' AS src FROM lineitem
)
GROUP BY src
"""


# ---------------------------------------------------------------------------
# Scalar functions: split/offset, regexp, case-when (SURVEY F1/F5/F7)
# ---------------------------------------------------------------------------

def order_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT(x,'-')[SAFE_OFFSET(1)] + regexp_extract + CASE WHEN — the
    reference's audit-query scalar vocabulary over its log tables."""
    o = load_table(spark, sf_dir, "orders")
    pr_word = F.try_element_at(F.split(F.col("o_orderpriority"), "-"), F.lit(2))
    pr_num = F.regexp_extract(F.col("o_orderpriority"), "^([0-9]+)", 1).cast("int")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.select(
            pr_num.alias("priority_num"),
            pr_word.alias("priority_word"),
            bucket.alias("price_bucket"),
        )
        .groupBy("priority_num", "priority_word", "price_bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


PRIORITY_BUCKETS_SQL = """
SELECT CAST(regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS INT) AS priority_num,
       string_split(o_orderpriority, '-')[2] AS priority_word,
       CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# JSON extraction (SURVEY F3 — JSON_EXTRACT_SCALAR over a JSON column)
# ---------------------------------------------------------------------------

def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select(k.alias("k_bucket"), "value")
        .withColumn("k_bucket", (F.col("k_bucket") % 10))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
    )


EVENT_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse the JSON
    ONCE into the binary variant encoding, then do typed path
    extraction (``try_variant_get``) and schema discovery
    (``schema_of_variant``) downstream.

    At 100 TB this is the point of VARIANT over per-path
    ``get_json_object``: N extractions re-parse the string N times,
    variant parses once and each ``variant_get`` is a cheap binary
    probe — and shredded variant columns in parquet prune like any
    other column. The oracle replicates with DuckDB's JSON probes
    (same values, engine-native encodings)."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("value", F.try_parse_json("props").alias("v"))
    return (
        v.select(
            (F.try_variant_get("v", "$.k", "int") % 7).alias("k_mod"),
            F.schema_of_variant(F.col("v")).alias("props_schema"),
            "value",
        )
        .groupBy("k_mod", "props_schema")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


EVENT_VARIANT_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INT) % 7 AS k_mod,
       'OBJECT<k: BIGINT>' AS props_schema,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Time-windowed incremental consumption (SURVEY ST2 — 1-day lookback)
# ---------------------------------------------------------------------------

def events_last_day_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files-in-window query (constants.py:84-90): rows whose ts lies in
    (max_ts - 1 day, max_ts]. At 100 TB: the scalar max is a tiny agg
    broadcast into the filter; with date-partitioned storage this prunes
    to the last partitions."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    return (
        e.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("ts") > F.col("max_ts") - F.expr("INTERVAL 1 DAY"))
            & (F.col("ts") <= F.col("max_ts"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("sum_value"),
        )
    )


EVENTS_WINDOW_SQL = """
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, mx
WHERE ts > max_ts - INTERVAL 1 DAY AND ts <= max_ts
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Full-outer source↔target compare (SURVEY J6 — DVT row validation join)
# ---------------------------------------------------------------------------

def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source↔target full-outer on primary key with match classification —
    the DVT row-validation shape. "Target" simulates a partial load
    (orders with totalprice ≥ 1000). At 100 TB: sort-merge join on the
    PK, both sides shuffle-partitioned identically."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderkey").alias("src_key"), F.col("o_totalprice").alias("src_price")
    )
    tgt = o.filter(F.col("o_totalprice") >= 1000).select(
        F.col("o_orderkey").alias("tgt_key"), F.col("o_totalprice").alias("tgt_price")
    )
    joined = src.join(tgt, src.src_key == tgt.tgt_key, "full_outer")
    status = (
        F.when(F.col("src_key").isNull(), "target_only")
        .when(F.col("tgt_key").isNull(), "source_only")
        .when(F.col("src_price") == F.col("tgt_price"), "match")
        .otherwise("mismatch")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


ORDER_RECON_SQL = """
WITH src AS (SELECT o_orderkey AS src_key, o_totalprice AS src_price FROM orders),
     tgt AS (SELECT o_orderkey AS tgt_key, o_totalprice AS tgt_price FROM orders WHERE o_totalprice >= 1000)
SELECT CASE WHEN src_key IS NULL THEN 'target_only'
            WHEN tgt_key IS NULL THEN 'source_only'
            WHEN src_price = tgt_price THEN 'match'
            ELSE 'mismatch' END AS status,
       COUNT(*) AS n_rows
FROM src FULL OUTER JOIN tgt ON src_key = tgt_key
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q4-style: correlated EXISTS → left-semi join with extra predicate
# (SURVEY §2.3 — semi-join family; the reference's SQL corpus is TPC-H)
# ---------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped after the order date,
    counted by priority. At 100 TB: the EXISTS is a left-semi join on
    orderkey — the semi short-circuits per key, never materializing the
    lineitem side; both sides shuffle once on the join key."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6-style: tight-predicate scan aggregate (pushdown showcase)
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table agg behind three pushable predicates. At 100 TB:
    every predicate reaches the parquet scan (PushedFilters), row-group
    stats skip most of the table, and the agg is one scalar."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount").between(0.02, 0.05))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.05 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q10-style: 4-way join + grouped agg + top-k (returned-items report)
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer, top 20. At 100 TB:
    lineitem filter pushes to scan; orders⨝lineitem shuffles on
    orderkey, then one shuffle to customer grain; nation broadcasts;
    top-k is TakeOrdered (no global sort)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# ROLLUP (SURVEY §2.4 notes grouping sets absent in the reference but
# native in Spark — exercised here so the engine's coverage is explicit)
# ---------------------------------------------------------------------------

def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (returnflag → linestatus → grand total) in one
    pass. At 100 TB: Spark expands rollup grouping sets map-side; still a
    single shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_lines"))
    )


PRICING_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: linestatus values become columns per returnflag row. The
    value list is explicit, so Spark skips the extra distinct-scan pass
    it would otherwise run to discover pivot columns — at 100 TB that
    halves the scans; execution is then an ordinary one-shuffle
    conditional aggregation."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        # lowercase to match the oracle aliases exactly: the gate sorts
        # columns BY NAME before hashing, and "O" (uppercase, ASCII 79)
        # sorts differently than "o" — same values, permuted hash
        .select(
            "l_returnflag",
            F.col("O").alias("o"),
            F.col("F").alias("f"),
        )
    )


RETURNFLAG_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS o,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
            FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS f
FROM lineitem
GROUP BY l_returnflag
"""


def order_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-priority aggregates rotate into
    (priority, metric, value) rows. The rotation is a zero-shuffle
    projection (each input row emits |metrics| rows map-side); the only
    exchange is the upstream aggregation's."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum("o_totalprice", 18, 2).alias("total_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_price"],
        "metric",
        "value",
    )


ORDER_METRICS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'total_price' AS metric, total_price AS value FROM wide
"""


def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 marginal totals of orders by (status, priority) in one
    pass, rows disambiguated by grouping_id (bit-compatible with ANSI
    GROUPING()). At 100 TB: cube expands grouping sets map-side like
    rollup — partials combine before the single shuffle, and the group
    count stays tiny (|status|×|priority| plus margins)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 18, 2).alias("total_price"),
    )


ORDER_STATUS_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — exactly two groupings (by returnflag,
    by linestatus), no cross margins: the shape CUBE can't express
    without waste. Same single-shuffle expansion as rollup/cube."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping_id().alias("gid"),
        dsum(_disc_price(), 18, 4).alias("revenue"),
    )


REVENUE_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


# ---------------------------------------------------------------------------
# Salted two-stage aggregation over a 3-key skewed grain (operators/skew)
# ---------------------------------------------------------------------------

def skewed_returnflag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem by l_returnflag — 3 groups, i.e. at 100 TB three
    reducers own the whole table unless partials stay tiny. Runs the
    explicit salted two-stage rewrite (operators/skew.salted_agg):
    first shuffle on (flag, salt) = 3×16 keys, merge on 3. Aggregates
    are decimal-exact, so salting cannot change a bit of the result —
    which the DuckDB oracle (plain GROUP BY) verifies."""
    from data_migration_tool_spark.operators.skew import salted_agg

    l = load_table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    return salted_agg(
        l,
        keys=["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum(qty_dec).alias("ps"),
            F.min("l_extendedprice").alias("pmin"),
            F.max("l_extendedprice").alias("pmax"),
        ],
        merge_aggs=[
            F.sum("pc").alias("n_lines"),
            F.sum("ps").cast("double").alias("sum_qty"),
            F.min("pmin").alias("min_price"),
            F.max("pmax").alias("max_price"),
        ],
        n_salts=16,
    )


SKEWED_RETURNFLAG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Exact percentiles (beyond ref — Spark `percentile` ≙ SQL PERCENTILE_CONT)
# ---------------------------------------------------------------------------

def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. The 25/75 pair is
    computed as ONE array-typed multi-quantile (single sort per group,
    not two) and then scalarized — oracle-compared outputs must be
    scalar columns because downstream canonicalizers sort/hash cell
    values and list cells are unhashable. Bit-identical to DuckDB's
    quantile_cont: both implement sorted-order linear interpolation
    over the same doubles. At 100 TB exact percentile is a per-group
    sort — for dashboards at that scale prefer the sketch path
    (sketch_distinct_users pattern / approx_percentile); this plan is
    the exactness reference."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
            F.expr("percentile(l_quantity, array(0.25, 0.75))").alias("_qty_iqr"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "l_returnflag",
            "p50_price",
            "p90_price",
            F.element_at("_qty_iqr", 1).alias("p25_qty"),
            F.element_at("_qty_iqr", 2).alias("p75_qty"),
            "n_lines",
        )
    )


PRICE_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.75) AS p75_qty,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# MERGE / upsert semantics (SURVEY ST4 — idempotent-merge rerun protocol)
# ---------------------------------------------------------------------------

def orders_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins MERGE (operators/merge.upsert_latest): a revision
    batch flips big orders to status 'U' and inserts new synthetic
    orders ('N'); post-merge status census must show updates replaced
    their base rows (no 'U'-keyed duplicates) and inserts landed. One
    key shuffle, no join — see merge.py. Oracle replays the same MERGE
    as union + ROW_NUMBER in SQL."""
    from data_migration_tool_spark.operators.merge import upsert_latest

    o = load_table(spark, sf_dir, "orders")
    revised = o.filter(F.col("o_totalprice") >= 150000).withColumn(
        "o_orderstatus", F.lit("U")
    )
    inserted = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    updates = revised.unionByName(inserted)
    merged = upsert_latest(o, updates, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


ORDERS_UPSERT_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_totalprice >= 150000
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
), tagged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 0 AS pri FROM orders
  UNION ALL
  SELECT *, 1 AS pri FROM updates
), merged AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
    FROM tagged)
  WHERE rn = 1
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM merged
GROUP BY o_orderstatus
"""


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals. Bucketing runs entirely
    in integer arithmetic — exact decimal cents, then integer div by
    the bucket width — because float division puts boundary values in
    different buckets on different engines. One map-side-combinable
    shuffle at bucket grain; bucket bounds derive from the bucket id,
    not a second scan."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    width_cents = 25000 * 100
    return (
        o.select((cents - (cents % width_cents)).alias("bucket_lo_cents"))
        .groupBy("bucket_lo_cents")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            (F.col("bucket_lo_cents") / 100).cast("double").alias("bucket_lo"),
            "n_orders",
        )
    )


ORDER_PRICE_HISTOGRAM_SQL = """
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders
)
SELECT CAST((c - (c % 2500000)) AS DOUBLE) / 100 AS bucket_lo,
       COUNT(*) AS n_orders
FROM cents
GROUP BY c - (c % 2500000)
"""


def price_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev via exact decimal partials: Σx and Σx² accumulate
    in decimal (order-independent — the same property dsum gives first
    moments), then the variance assembles from those exact sums with a
    fixed sequence of IEEE double ops, identical on any engine. The
    usual caveat about the naive formula (catastrophic cancellation)
    does not apply because the sums themselves are EXACT, not floating
    partials. One map-side-combinable shuffle; at 100 TB this is how
    you get deterministic dispersion stats at any parallelism —
    built-in var_samp over doubles is partitioning-dependent."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx_d"),
            F.sum(x * x).alias("sxx_d"),
        )
        .select(
            "l_returnflag",
            "n",
            (F.col("sx_d").cast("double") / F.col("n")).alias("mean_price"),
            (
                (
                    F.col("sxx_d").cast("double")
                    - F.col("sx_d").cast("double")
                    * F.col("sx_d").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("var_price"),
            F.sqrt(
                (
                    F.col("sxx_d").cast("double")
                    - F.col("sx_d").cast("double")
                    * F.col("sx_d").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("stddev_price"),
        )
    )


PRICE_DISPERSION_SQL = """
WITH partials AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxx
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  -- VARCHAR-routed: DuckDB's wide DECIMAL -> DOUBLE cast is not
  -- correctly rounded (1 ulp off on sf0.001's flag-A sxx); Spark's is
  SELECT l_returnflag, n,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx_d,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx_d
  FROM partials
)
SELECT l_returnflag, n,
       sx_d / n AS mean_price,
       (sxx_d - sx_d * sx_d / n) / (n - 1) AS var_price,
       sqrt((sxx_d - sx_d * sx_d / n) / (n - 1)) AS stddev_price
FROM d
"""


def customer_retention_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit INTERSECT / EXCEPT: customers active in both 1996 and
    1997 (retained) vs active in 1996 but not 1997 (churned), unioned
    with a status tag. Spark plans both set ops as aggregate+join on
    the deduplicated key sets — at 100 TB each side reduces to
    distinct customer keys in-scan before any shuffle, so the set
    operation costs key-set size, not order count."""
    o = load_table(spark, sf_dir, "orders")

    def active(year):
        return o.filter(F.year("o_orderdate") == year).select("o_custkey")

    retained = active(1996).intersect(active(1997)).select(
        "o_custkey", F.lit("retained").alias("status")
    )
    # subtract = SQL EXCEPT (set semantics); exceptAll would be the
    # multiset variant, which misclassifies multi-order customers
    churned = active(1996).subtract(active(1997)).select(
        "o_custkey", F.lit("churned").alias("status")
    )
    return retained.unionByName(churned)


CUSTOMER_RETENTION_SQL = """
SELECT o_custkey, 'retained' AS status FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
  INTERSECT
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
)
UNION ALL
SELECT o_custkey, 'churned' AS status FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
  EXCEPT
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
)
"""


def part_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often bought
    in the same order. Pairs are generated basket-locally (cost
    Σ basket², never |lineitem|²): one groupBy(order) with an in-row
    collect_set does the per-order part dedup key-local, and a double
    explode with part_a < part_b emits each basket's pairs map-side —
    the r13 rework (guide §2.4) of the former distinct + order-keyed
    self-join, which paid a (orderkey, partkey) distinct exchange on
    EACH join side plus the join itself. One basket exchange + the
    pair-grain aggregate exchange where there were four; identical
    pair multiset (collect_set ≡ the old distinct within an order),
    oracle hash-proved. TakeOrdered top-k — no global sort."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        grouped.select(F.explode("ps").alias("part_a"), "ps")
        .select("part_a", F.explode("ps").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


PART_COOCCUR_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


def orders_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume and revenue growth. The raw table
    collapses to month grain first (map-combined, one shuffle), so the
    unpartitioned ordering window that computes lag/growth runs over
    ~84 rows — aggregate-scale, where a single-partition window is the
    right plan, not a bottleneck. Revenue accumulates as decimal
    (exact at any parallelism); growth is a double ratio of those
    exact totals, rounded for stable cross-engine repr."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round(
            F.when(prev > 0, (F.col("revenue") - prev) / prev), 6
        ).alias("mom_growth"),
    )


ORDERS_MONTHLY_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
       round(CASE WHEN LAG(revenue) OVER (ORDER BY month) > 0
                  THEN (revenue - LAG(revenue) OVER (ORDER BY month))
                       / LAG(revenue) OVER (ORDER BY month) END, 6) AS mom_growth
FROM monthly
"""


_PAGERANK_ITERS = 6
_PAGERANK_SCALE = 10**12


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts linked when
    bought in the same order, both directions): centrality of each part
    in the catalog — which parts anchor baskets. Runs the EXACT
    fixed-point iteration (operators/graph.pagerank_exact: scaled-int64
    ranks, truncating division — order-independent, bit-identical
    cross-engine), so unlike classic float PageRank this query lives in
    the exact-hash oracle lane: the DuckDB twin unrolls the identical
    integer recurrence for the same fixed round count. Top-100 by
    scaled rank, ties broken by node id."""
    from data_migration_tool_spark.operators.graph import pagerank_exact

    # Edge derivation as groupBy(order) + in-row pair expansion (r13
    # opt, guide §2.4 remove shuffles): the former DISTINCT-then-
    # self-join shape paid a (orderkey, partkey) distinct exchange
    # plus the join's own orderkey exchange before the operator's
    # edge distinct. collect_set is per-order dedup (≡ the old
    # distinct, key-local) and the double explode emits exactly the
    # same ordered (src ≠ dst) pairs map-side — one exchange where
    # there were two, identical edge multiset after the operator's
    # distinct (oracle hash-proved). Per-order sets are basket-sized,
    # so the k² in-row expansion is bounded.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    edges = (
        grouped.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # parts are dimension-scale under any lineitem volume -> broadcast
    # ranks, and size the loop's node-grain shuffles to the catalog
    # (edge derivation above still runs at session parallelism)
    ranks = pagerank_exact(
        edges,
        iters=_PAGERANK_ITERS,
        scale=_PAGERANK_SCALE,
        broadcast_ranks=True,
        loop_shuffle_partitions=8,
        # cadence 1 (the default) measured 7.2 s vs 11.9 s (every 2) and
        # 17.0 s (every 3) at sf0.1: each un-checkpointed round REFERENCES
        # the previous rank frame twice (contrib join + dangling-mass
        # aggregate), so the logical plan doubles per round and
        # re-analysis dwarfs the saved checkpoint jobs
    )
    return (
        ranks.select(
            "node",
            F.col("rank").alias("rank_scaled"),
            (F.col("rank").cast("double") / F.lit(float(_PAGERANK_SCALE))).alias(
                "rank"
            ),
        )
        .orderBy(F.desc("rank_scaled"), F.asc("node"))
        .limit(100)
    )


def _pagerank_sql(iters: int = _PAGERANK_ITERS, scale: int = _PAGERANK_SCALE) -> str:
    """Chained-CTE unroll of the exact integer PageRank recurrence —
    one (dangling-mass, contribution, rank) CTE triple per round. No
    recursion needed: the round count is fixed, so the oracle is plain
    derived-table SQL any engine runs. Every quantity is integral until
    the final display division. MATERIALIZED on every multiply-
    referenced CTE is load-bearing: without it the engine inlines the
    edge self-join into every round (12+ recomputations — ran a DuckDB
    temp volume out of disk at sf0.1)."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "outd AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT node, CAST({scale} // n AS BIGINT) AS rank FROM nodes, nn)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""m{i} AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS m
  FROM r{p} r LEFT JOIN outd ON r.node = outd.src
  WHERE outd.src IS NULL
)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst, CAST(SUM((r.rank * 85) // (100 * outd.od)) AS BIGINT) AS contrib
  FROM e JOIN r{p} r ON e.src = r.node JOIN outd ON outd.src = e.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(({scale} * 15) // (100 * nn.n)
              + (m{i}.m * 85) // (100 * nn.n)
              + COALESCE(c.contrib, 0) AS BIGINT) AS rank
  FROM nodes nd CROSS JOIN nn CROSS JOIN m{i}
  LEFT JOIN c{i} c ON c.dst = nd.node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node, rank AS rank_scaled,
       CAST(rank AS DOUBLE) / {float(scale)} AS rank
FROM r{iters}
ORDER BY rank_scaled DESC, node ASC
LIMIT 100
"""
    )


PART_PAGERANK_SQL = _pagerank_sql()


def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph — the
    clustering-structure scalar behind community/cohesion analysis.
    Degree-ordered orientation bounds the wedge intermediate by
    arboricity (operators/graph.triangle_count); the oracle recomputes
    the same integers with a declarative three-way self-join."""
    from data_migration_tool_spark.operators.graph import triangle_count

    # Edge derivation as groupBy(order) + in-row pair expansion (r13
    # opt, guide §2.4 — same rework as ``part_pagerank``): the former
    # distinct-then-self-join paid a (orderkey, partkey) distinct
    # exchange plus the join's orderkey exchange; collect_set is the
    # per-order dedup done key-local and the double explode emits the
    # same src < dst pairs map-side. One exchange where there were
    # two; the operator's own edge distinct dedups across orders
    # exactly as before (oracle hash-proved).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    edges = (
        grouped.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
    )
    return triangle_count(edges)


PART_TRIANGLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
),
e AS (SELECT DISTINCT x AS u, y AS v FROM p)
SELECT
  (SELECT COUNT(DISTINCT node)
   FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)) AS n_nodes,
  (SELECT COUNT(*) FROM e) AS n_edges,
  (SELECT COUNT(*)
   FROM e e1
   JOIN e e2 ON e2.u = e1.v
   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


def nation_revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS slope of monthly revenue over time — in-database
    regression from sufficient statistics: every moment (n, Σx, Σx²,
    Σy, Σxy) accumulates as integers/decimals (order-independent,
    exact at any parallelism), and only the final slope division runs
    in floating point with an identical formula on both engines. The
    pattern that lets a 1000-executor cluster fit millions of
    group-wise regressions in one aggregation pass."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("long")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
        )
    )
    moments = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("decimal(30,2)").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y"))
        .cast("decimal(38,2)")
        .alias("sxy"),
    )
    num = (
        F.col("n_months").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = (
        F.col("n_months").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return moments.select(
        "n_name",
        "n_months",
        F.round(num / den, 6).alias("slope"),
    ).orderBy("n_name")


NATION_TREND_SQL = """
WITH monthly AS (
  SELECT n.n_name,
         CAST((year(o.o_orderdate) - 1992) * 12
              + month(o.o_orderdate) - 1 AS BIGINT) AS x,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
moments AS (
  SELECT n_name,
         COUNT(*) AS n_months,
         SUM(x) AS sx,
         SUM(x * x) AS sxx,
         CAST(SUM(y) AS DECIMAL(30,2)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DECIMAL(38,2)) AS sxy
  FROM monthly GROUP BY 1
)
SELECT n_name, n_months,
       round((CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
FROM moments
ORDER BY n_name
"""


def customer_top2_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): per customer,
    the top-2 orders by price via a per-row dependent subquery with
    ORDER BY ... LIMIT — the migration shape Teradata/Oracle workloads
    write as correlated derived tables. Catalyst decorrelates the lateral
    into a ranked window join, so the executed plan is the same
    one shuffle + filter as a hand-written row_number() — proved by the
    plan test; the gate proves the semantics. Tie-break on o_orderkey
    makes the LIMIT deterministic across engines."""
    load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 200
    ).createOrReplaceTempView("lat_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM lat_cust c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        """
    )


CUSTOMER_TOP2_LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM customer WHERE c_custkey < 200) c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
"""


def masked_nation_join_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization end-to-end (r13,
    operators/masking.py): customer and supplier nation keys are
    independently masked with the same salt, then the two masked
    frames are aligned BY TOKEN — proving that equality semantics
    (joins, group-bys, referential checks) survive masking, which is
    the property that lets a migration stage pseudonymized data and
    still run its validation suite against it. Map-only masking (zero
    shuffles added — the token rides the scan); one groupBy per side
    at nation grain; full-outer token join so a side-only token (a
    referential break) would surface as a 0-count row. The DuckDB
    oracle recomputes every md5 token independently — a canonical-form
    or NULL-handling divergence between engines hash-fails."""
    from data_migration_tool_spark.operators.masking import mask_columns

    salt = "dmt-mask-v1"
    c = mask_columns(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ),
        ["c_nationkey"],
        salt,
    )
    s = mask_columns(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        ),
        ["s_nationkey"],
        salt,
    )
    cn = c.groupBy(F.col("c_nationkey").alias("masked_nation")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    sn = s.groupBy(F.col("s_nationkey").alias("masked_nation")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        cn.join(sn, "masked_nation", "full_outer")
        .select(
            "masked_nation",
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


MASKED_NATION_JOIN_SQL = """
WITH cn AS (
  SELECT md5('dmt-mask-v1:' || CAST(c_nationkey AS VARCHAR)) AS masked_nation,
         COUNT(*) AS n_customers
  FROM customer
  GROUP BY 1
),
sn AS (
  SELECT md5('dmt-mask-v1:' || CAST(s_nationkey AS VARCHAR)) AS masked_nation,
         COUNT(*) AS n_suppliers
  FROM supplier
  GROUP BY 1
)
SELECT masked_nation,
       CAST(COALESCE(cn.n_customers, 0) AS BIGINT) AS n_customers,
       CAST(COALESCE(sn.n_suppliers, 0) AS BIGINT) AS n_suppliers
FROM cn FULL OUTER JOIN sn USING (masked_nation)
"""
