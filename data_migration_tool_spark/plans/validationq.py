"""Validation operators as registry queries (SURVEY A6/A7/J6, UD4).

Each entry drives the real operators in ``operators.validation`` against
the testdata, simulating a "migrated target" by deterministic drift
(key-modular row drops / value changes — multiplications by 2 so doubles
stay exact). The DuckDB oracle replicates the *operator's contract* —
aggregate compare semantics, NULL-safe canonical row hashing — so the
validator itself is validated (SURVEY §5: "the validator validates
itself").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.operators.validation import (
    ValidationSpec,
    column_validation,
    row_validation,
    schema_validation,
)
from data_migration_tool_spark.tables import load_table


def _li_quantity_drift() -> F.Column:
    """The ONE drift expression both lineitem-drift consumers share —
    doubled quantity on ~2% of rows."""
    return F.when(
        F.col("l_orderkey") % 50 == 0, F.col("l_quantity") * 2.0
    ).otherwise(F.col("l_quantity"))


def _drifted_lineitem(l: DataFrame) -> DataFrame:
    """Simulated migrated lineitem: doubled quantity on ~2% of rows."""
    return l.withColumn("l_quantity", _li_quantity_drift())


def dvt_column_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped column validation (A6): count/sum/min/max/avg per
    l_returnflag, source vs drifted target, 0.1% threshold.

    At 100 TB: ONE map-side-combined groupBy over ONE scan (r14, guide
    §1.2): the target here is an in-flight row-level transform of the
    source, so ``column_validation_inflight`` computes both sides'
    aggregates from the same pass — the former two-frame form scanned
    lineitem twice and joined the two 3-row aggregates (output
    row-identical; oracle hash-proved). No row-level data movement at
    all."""
    from data_migration_tool_spark.operators.validation import (
        column_validation_inflight,
    )

    l = load_table(spark, sf_dir, "lineitem")
    spec = ValidationSpec(
        validation_type="column",
        source_table="lineitem",
        target_table="lineitem_migrated",
        count_cols=["*"],
        sum_cols=["l_quantity", "l_extendedprice"],
        min_cols=["l_extendedprice"],
        max_cols=["l_quantity"],
        avg_cols=["l_quantity"],
        grouped_columns=["l_returnflag"],
        threshold=0.1,
    )
    res = column_validation_inflight(
        l, {"l_quantity": _li_quantity_drift()}, spec
    )
    return res.select(
        "validation_name",
        "aggregation_type",
        "source_column_name",
        "group_by_columns",
        F.col("source_agg_value").cast("double").alias("source_agg_value"),
        F.col("target_agg_value").cast("double").alias("target_agg_value"),
        "pct_difference",
        "validation_status",
    )


DVT_COLUMN_SQL = """
WITH tgt_rows AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % 50 = 0 THEN l_quantity * 2 ELSE l_quantity END AS l_quantity,
         l_extendedprice
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
    COUNT(*) AS count_star,
    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
    CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
    CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY l_returnflag
),
t AS (
  SELECT l_returnflag,
    COUNT(*) AS count_star,
    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
    CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
    CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty
  FROM tgt_rows GROUP BY l_returnflag
),
j AS (SELECT s.*, t.count_star AS t_count_star, t.sum_qty AS t_sum_qty,
             t.sum_price AS t_sum_price, t.min_price AS t_min_price,
             t.max_qty AS t_max_qty, t.avg_qty AS t_avg_qty,
             json_object('l_returnflag', s.l_returnflag) AS gjson
      FROM s JOIN t ON s.l_returnflag = t.l_returnflag),
m AS (
  SELECT 'count:*' AS validation_name, 'count' AS aggregation_type, '*' AS source_column_name, gjson,
         CAST(count_star AS DOUBLE) AS sv, CAST(t_count_star AS DOUBLE) AS tv FROM j
  UNION ALL
  SELECT 'sum:l_quantity', 'sum', 'l_quantity', gjson, sum_qty, t_sum_qty FROM j
  UNION ALL
  SELECT 'sum:l_extendedprice', 'sum', 'l_extendedprice', gjson, sum_price, t_sum_price FROM j
  UNION ALL
  SELECT 'min:l_extendedprice', 'min', 'l_extendedprice', gjson, min_price, t_min_price FROM j
  UNION ALL
  SELECT 'max:l_quantity', 'max', 'l_quantity', gjson, max_qty, t_max_qty FROM j
  UNION ALL
  SELECT 'avg:l_quantity', 'avg', 'l_quantity', gjson, avg_qty, t_avg_qty FROM j
)
SELECT validation_name, aggregation_type, source_column_name,
       gjson AS group_by_columns,
       sv AS source_agg_value, tv AS target_agg_value,
       ABS(tv - sv) / ABS(sv) * 100.0 AS pct_difference,
       CASE WHEN ABS(tv - sv) / ABS(sv) * 100.0 <= 0.1 THEN 'success' ELSE 'fail' END AS validation_status
FROM m
"""


def _drifted_orders(o: DataFrame) -> DataFrame:
    """Simulated migrated orders: ~1% dropped, ~1% price-doubled, ~1%
    extra rows with shifted keys."""
    kept = o.filter(F.col("o_orderkey") % 101 != 0)
    modified = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 2.0
        ).otherwise(F.col("o_totalprice")),
    )
    extra = o.filter(F.col("o_orderkey") % 103 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    return modified.unionByName(extra)


def dvt_row_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-hash validation (A7/J6): NULL-safe canonical md5 per PK,
    full-outer join, per-status counts.

    At 100 TB: both sides reduce to (pk, 16-byte hash) in-scan before
    the sort-merge join — minimal shuffle for a full-table compare."""
    o = load_table(spark, sf_dir, "orders")
    spec = ValidationSpec(
        validation_type="row",
        source_table="orders",
        target_table="orders_migrated",
        primary_keys=["o_orderkey"],
        hash_cols=["*"],
    )
    detail = row_validation(o, _drifted_orders(o), spec, detail=True)
    return detail.groupBy("row_status").agg(F.count(F.lit(1)).alias("n_rows"))


DVT_ROW_SQL = """
WITH fp_src AS (
  SELECT o_orderkey, md5(concat_ws('␟',
      CAST(o_custkey AS VARCHAR),
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'),
      o_orderpriority, o_orderstatus,
      CAST(CAST(o_totalprice AS DECIMAL(30,6)) AS VARCHAR))) AS fp
  FROM orders
),
tgt_rows AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 103 = 0
),
fp_tgt AS (
  SELECT o_orderkey, md5(concat_ws('␟',
      CAST(o_custkey AS VARCHAR),
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'),
      o_orderpriority, o_orderstatus,
      CAST(CAST(o_totalprice AS DECIMAL(30,6)) AS VARCHAR))) AS fp
  FROM tgt_rows
)
SELECT CASE WHEN s.fp IS NULL THEN 'target_only'
            WHEN t.fp IS NULL THEN 'source_only'
            WHEN s.fp = t.fp THEN 'match'
            ELSE 'mismatch' END AS row_status,
       COUNT(*) AS n_rows
FROM fp_src s FULL OUTER JOIN fp_tgt t ON s.o_orderkey = t.o_orderkey
GROUP BY 1
"""


def dvt_schema_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema validation (dvt/main.py:40): lineitem vs a migrated copy
    with one column retyped, one dropped, one added. The oracle
    re-derives the expected compare from DuckDB's information_schema
    over the same parquet (type names mapped to Spark simpleStrings),
    so the operator's semantics — exclusions, allow-list, missing-column
    fails — are independently replicated, not hardcoded."""
    l = load_table(spark, sf_dir, "lineitem")
    migrated = (
        l.withColumn("l_quantity", F.col("l_quantity").cast("decimal(15,2)"))
        .drop("l_tax")
        .withColumn("load_ts", F.current_timestamp())
    )
    spec = ValidationSpec(
        validation_type="schema",
        source_table="lineitem",
        target_table="lineitem_migrated",
        exclusion_columns=["l_comment"],
        allow_list="double:decimal(15,2)",
    )
    return schema_validation(spark, l, migrated, spec).select(
        "source_column_name",
        F.col("source_agg_value").alias("source_type"),
        F.col("target_agg_value").alias("target_type"),
        "validation_status",
    )


DVT_SCHEMA_SQL = """
WITH src AS (
  SELECT lower(column_name) AS col,
         CASE data_type
           WHEN 'BIGINT' THEN 'bigint'
           WHEN 'INTEGER' THEN 'int'
           WHEN 'DOUBLE' THEN 'double'
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'TIMESTAMP' THEN 'timestamp'
           ELSE lower(data_type) END AS t
  FROM information_schema.columns WHERE table_name = 'lineitem'
),
tgt AS (
  SELECT col, CASE col WHEN 'l_quantity' THEN 'decimal(15,2)' ELSE t END AS t
  FROM src WHERE col <> 'l_tax'
  UNION ALL SELECT 'load_ts', 'timestamp'
),
joined AS (
  SELECT coalesce(s.col, g.col) AS source_column_name,
         s.t AS source_type, g.t AS target_type
  FROM src s FULL OUTER JOIN tgt g ON s.col = g.col
  WHERE coalesce(s.col, g.col) <> 'l_comment'
)
SELECT source_column_name, source_type, target_type,
       CASE WHEN source_type IS NULL OR target_type IS NULL THEN 'fail'
            WHEN source_type = target_type
              OR (source_type = 'double' AND target_type = 'decimal(15,2)')
            THEN 'success' ELSE 'fail' END AS validation_status
FROM joined
"""


def dvt_custom_query_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-query validation (UD4/dvt/main.py:50-56): user SQL on both
    sides, column-compared. Source = revenue per flag from lineitem;
    target = the same from a drifted copy."""
    l = load_table(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("li_src")
    _drifted_lineitem(l).createOrReplaceTempView("li_tgt")
    from data_migration_tool_spark.operators.validation import (
        custom_query_validation,
    )

    spec = ValidationSpec(
        validation_type="custom query",
        source_table="li_src",
        target_table="li_tgt",
        count_cols=["*"],
        sum_cols=["sum_qty"],
        threshold=0.5,
    )
    res = custom_query_validation(
        spark,
        """SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
           FROM li_src GROUP BY l_returnflag""",
        """SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
           FROM li_tgt GROUP BY l_returnflag""",
        spec,
    )
    return res.select(
        "validation_name",
        "aggregation_type",
        F.col("source_agg_value").cast("double").alias("source_agg_value"),
        F.col("target_agg_value").cast("double").alias("target_agg_value"),
        "validation_status",
    )


DVT_CUSTOM_SQL = """
WITH s AS (
  SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_returnflag
),
t AS (
  SELECT l_returnflag, CAST(SUM(CAST(CASE WHEN l_orderkey % 50 = 0 THEN l_quantity * 2 ELSE l_quantity END AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_returnflag
),
sa AS (SELECT CAST(COUNT(*) AS DOUBLE) AS count_star, CAST(SUM(CAST(sum_qty AS DECIMAL(30,6))) AS DOUBLE) AS sum_sum_qty FROM s),
ta AS (SELECT CAST(COUNT(*) AS DOUBLE) AS count_star, CAST(SUM(CAST(sum_qty AS DECIMAL(30,6))) AS DOUBLE) AS sum_sum_qty FROM t),
m AS (
  SELECT 'count:*' AS validation_name, 'count' AS aggregation_type, sa.count_star AS sv, ta.count_star AS tv FROM sa, ta
  UNION ALL
  SELECT 'sum:sum_qty', 'sum', sa.sum_sum_qty, ta.sum_sum_qty FROM sa, ta
)
SELECT validation_name, aggregation_type, sv AS source_agg_value, tv AS target_agg_value,
       CASE WHEN ABS(tv - sv) / ABS(sv) * 100.0 <= 0.5 THEN 'success' ELSE 'fail' END AS validation_status
FROM m
"""


def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition table checksums (order-insensitive md5-sum + row
    count per o_orderstatus): the cheap first-pass compare that decides
    whether row-level validation needs to run, and localizes a
    mismatch to a partition when it does. One fully map-side-combinable
    scan (see operators/validation.table_checksum)."""
    from data_migration_tool_spark.operators.validation import table_checksum

    o = load_table(spark, sf_dir, "orders")
    # surface the exact-decimal accumulator as bigint: DuckDB's DECIMAL
    # and Spark's DECIMAL stringify differently in cross-engine compare
    # harnesses, while int64 is representation-unique
    return table_checksum(
        o,
        cols=[
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            "o_totalprice",
        ],
        group_by=["o_orderstatus"],
    ).withColumn("checksum", F.col("checksum").cast("bigint"))


ORDERS_CHECKSUM_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws('␟',
           CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR),
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'),
           o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(30,6)) AS VARCHAR))), 1, 8))
         AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS checksum
FROM orders
GROUP BY o_orderstatus
"""


def dvt_labels_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labels-UNNEST validation summary (validation_dag.py:181-195): a
    dmt_dvt_results table is seeded deterministically from orders (each
    order → one validation row carrying an array<struct<key,value>>
    labels field tagging it with one of three run ids), then the
    summary explodes the labels, filters on the run-id label VALUE, and
    tallies success/fail — the reference's aggregated-results write."""
    from data_migration_tool_spark.audit.queries import labeled_validation_summary

    o = load_table(spark, sf_dir, "orders")
    results = o.select(
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("fail"))
        .otherwise(F.lit("success"))
        .alias("validation_status"),
        F.array(
            F.struct(
                F.lit("run_id").alias("key"),
                F.concat(F.lit("run_"), (F.col("o_orderkey") % 3).cast("string")).alias(
                    "value"
                ),
            ),
            F.struct(F.lit("team").alias("key"), F.lit("dmt").alias("value")),
        ).alias("labels"),
    )
    return labeled_validation_summary(results, "run_1")


DVT_LABELS_SQL = """
WITH results AS (
  SELECT CASE WHEN o_orderkey % 11 = 0 THEN 'fail' ELSE 'success' END AS validation_status,
         [{'key': 'run_id', 'value': 'run_' || CAST(o_orderkey % 3 AS VARCHAR)},
          {'key': 'team', 'value': 'dmt'}] AS labels
  FROM orders
), ex AS (
  SELECT validation_status, a.value AS v
  FROM results CROSS JOIN UNNEST(labels) AS t(a)
)
SELECT 'run_1' AS unique_id,
       CAST(COUNT(*) AS BIGINT) AS total_validations,
       CAST(SUM(CASE WHEN validation_status = 'success' THEN 1 ELSE 0 END) AS BIGINT) AS successful_validations,
       CAST(SUM(CASE WHEN validation_status = 'fail' THEN 1 ELSE 0 END) AS BIGINT) AS failed_validations
FROM ex WHERE v = 'run_1'
"""


def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-assessment profile of the orders table: one
    aggregation pass emits every column's (rows, nulls, distincts,
    min, max) — see operators/validation.table_profile."""
    from data_migration_tool_spark.operators.validation import table_profile

    o = load_table(spark, sf_dir, "orders")
    return table_profile(o)


_PROFILE_COL = """
SELECT '{c}' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       {mn} AS min_value, {mx} AS max_value
FROM orders
"""


def _profile_branch(c: str, render: str) -> str:
    mn = render.format(v=f"MIN({c})")
    mx = render.format(v=f"MAX({c})")
    return _PROFILE_COL.format(c=c, mn=mn, mx=mx)


ORDERS_PROFILE_SQL = "\nUNION ALL\n".join(
    [
        _profile_branch("o_orderkey", "CAST({v} AS VARCHAR)"),
        _profile_branch("o_custkey", "CAST({v} AS VARCHAR)"),
        _profile_branch("o_orderstatus", "CAST({v} AS VARCHAR)"),
        _profile_branch(
            "o_totalprice", "CAST(CAST({v} AS DECIMAL(30,6)) AS VARCHAR)"
        ),
        _profile_branch("o_orderdate", "strftime({v}, '%Y-%m-%d %H:%M:%S.%f')"),
        _profile_branch("o_orderpriority", "CAST({v} AS VARCHAR)"),
    ]
)


def referential_integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-migration referential-integrity audit: for each FK edge of
    the schema, the count of child rows whose parent key is missing
    (left-anti against the parent's distinct keys) plus the child row
    total. Each edge is one anti-join; parents reduce to distinct keys
    first, so at 100 TB small parents broadcast and the lineitem edges
    ride the existing orderkey partitioning. All-zero orphans is the
    pass condition after a complete migration (true for every real FK
    edge in the testdata); the final row is a deliberately-mismatched
    probe edge (event users vs the smaller supplier key range) proving
    the operator actually counts orphans, not just vacuous zeros."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    e = load_table(spark, sf_dir, "events")

    def edge(name, child, fk, parent, pk):
        orphans = child.select(F.col(fk).alias("k")).join(
            parent.select(F.col(pk).alias("k")).distinct(), "k", "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_orphans"),
        ).crossJoin(child.agg(F.count(F.lit(1)).alias("n_child_rows")))

    frames = [
        edge("lineitem.orderkey->orders", l, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.partkey->part", l, "l_partkey", p, "p_partkey"),
        edge("lineitem.suppkey->supplier", l, "l_suppkey", s, "s_suppkey"),
        edge("orders.custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("events.user_id->customer", e, "user_id", c, "c_custkey"),
        edge("probe:events.user_id->supplier", e, "user_id", s, "s_suppkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


REFERENTIAL_INTEGRITY_SQL = """
SELECT 'lineitem.orderkey->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows
UNION ALL
SELECT 'lineitem.partkey->part',
       (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'lineitem.suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'orders.custkey->customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'events.user_id->customer',
       (SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM customer)),
       (SELECT COUNT(*) FROM events)
UNION ALL
SELECT 'probe:events.user_id->supplier',
       (SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT s_suppkey FROM supplier)),
       (SELECT COUNT(*) FROM events)
"""


def orders_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative single-table contract check over orders: seven
    expectations (null, unique, set, range, regex, custom predicate)
    evaluated in ONE aggregation pass — the single-engine complement of
    DVT's cross-engine validations (reference validation-params
    min/max/count specs, storage_utils.py:12-38, generalized to a
    Deequ-style suite). One scan, map-side combinable, 1-row shuffle;
    the per-expectation report is a zero-shuffle explode. Exact-integer
    verdicts only — no float thresholds — so the report is bit-stable
    across engines and scale factors."""
    from data_migration_tool_spark.operators import expectations as X

    o = load_table(spark, sf_dir, "orders")
    suite = X.Suite(
        [
            X.not_null("o_orderkey"),
            X.unique("o_orderkey"),
            X.not_null("o_orderdate"),
            X.in_set("o_orderstatus", ["O", "F", "P"]),
            X.in_range("o_totalprice", 0.0, 600000.0),
            X.matches("o_orderpriority", "^[1-5]-"),
            X.satisfies("o_custkey > 0", "o_custkey"),
        ]
    )
    return suite.run(o)


_EXPECT_ROW = """
SELECT {i} AS ordinal, '{name}' AS expectation, '{col}' AS "column",
       (SELECT COUNT(*) FROM orders) AS n_rows,
       CAST({viol} AS BIGINT) AS n_violations,
       CAST(0 AS BIGINT) AS max_violations,
       CASE WHEN {viol} <= 0 THEN 'PASS' ELSE 'FAIL' END AS status
"""

ORDERS_EXPECTATIONS_SQL = "\nUNION ALL\n".join(
    _EXPECT_ROW.format(i=i, name=name, col=col, viol=viol)
    for i, (name, col, viol) in enumerate(
        [
            (
                "not_null(o_orderkey)",
                "o_orderkey",
                "(SELECT COUNT(*) - COUNT(o_orderkey) FROM orders)",
            ),
            (
                "unique(o_orderkey)",
                "o_orderkey",
                "(SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders)",
            ),
            (
                "not_null(o_orderdate)",
                "o_orderdate",
                "(SELECT COUNT(*) - COUNT(o_orderdate) FROM orders)",
            ),
            (
                "in_set(o_orderstatus)[O,F,P]",
                "o_orderstatus",
                "(SELECT COUNT(*) - SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) FROM orders)",
            ),
            (
                "in_range(o_totalprice)[0.0,600000.0]",
                "o_totalprice",
                "(SELECT COUNT(*) - SUM(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 600000.0 THEN 1 ELSE 0 END) FROM orders)",
            ),
            (
                "matches(o_orderpriority)[^[1-5]-]",
                "o_orderpriority",
                "(SELECT COUNT(*) - SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) FROM orders)",
            ),
            (
                "satisfies(o_custkey)[o_custkey > 0]",
                "o_custkey",
                "(SELECT COUNT(*) - SUM(CASE WHEN o_custkey > 0 THEN 1 ELSE 0 END) FROM orders)",
            ),
        ]
    )
)


def orders_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance gate: the per-priority price
    rollup is computed as merge(partials(pre-1997 base), partials(1997+
    delta)) — the state-table path a 100 TB pipeline runs per
    micro-batch instead of rescanning base — and the oracle aggregates
    the whole table directly. Hash equality proves the partial-agg
    algebra (exact decimal Σx/Σx², additive counts, foldable min/max)
    end-to-end, variance included. See operators/incremental_agg."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    base = o.filter(F.col("o_orderdate") < cut)
    delta = o.filter(F.col("o_orderdate") >= cut)
    keys = ["o_orderpriority"]
    state = IA.merge_partials(
        [
            IA.partials(base, keys, "o_totalprice"),
            IA.partials(delta, keys, "o_totalprice"),
        ],
        keys,
    )
    return IA.finalize(state, keys)


ORDERS_INCREMENTAL_AGG_SQL = """
WITH s AS (
  SELECT o_orderpriority,
         COUNT(o_totalprice) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sx,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))
             * CAST(o_totalprice AS DECIMAL(12,2))) AS sxx,
         MIN(o_totalprice) AS mn,
         MAX(o_totalprice) AS mx
  FROM orders GROUP BY o_orderpriority
),
-- decimal→double must round ONCE: DuckDB's direct DECIMAL→DOUBLE cast
-- double-rounds through int128/10^scale, so route through VARCHAR
-- (string→double is correctly rounded, matching Spark's
-- BigDecimal.doubleValue)
d AS (
  SELECT o_orderpriority, n, sx,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx_d,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx_d,
         mn, mx
  FROM s
)
SELECT o_orderpriority, n AS n_rows,
       sx_d AS total,
       sx_d / n AS mean,
       (sxx_d - sx_d * sx_d / n) / NULLIF(n - 1, 0) AS variance,
       mn AS min_value,
       mx AS max_value
FROM d
"""


def orders_rollup_minmax_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE maintenance for a materialized rollup with NON-INVERTIBLE
    aggregates (r11 — completes the IVM family: ``orders_incremental_
    agg`` proved insert-side merge, ``orders_join_ivm[_retract]``
    proved join views; this gates ``retract_partials``). The
    (status, priority) price rollup's state is maintained under
    deletion of the o_orderkey % 10 == 3 slice: count/Σx/Σx² subtract
    the deletes' partials exactly, while min/max — which deletion
    cannot invert — are lazily recomputed ONLY for groups whose
    deleted rows touch the current extreme (reached via broadcast
    left-semi on the touched keys; at sf0.01 a handful of the 15
    groups touch, so BOTH the arithmetic and the recompute path are
    live in the gate). The oracle aggregates the post-delete table
    directly; hash equality proves the split-path maintenance,
    variance included. Cost shape: O(Δ + touched-group rows), never
    O(base)."""
    from data_migration_tool_spark.operators import incremental_agg as IA

    o = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    deletes = o.filter(F.col("o_orderkey") % 10 == 3)
    state = IA.partials(o, keys, "o_totalprice")
    new_state = IA.retract_partials(state, deletes, o, keys, "o_totalprice")
    return IA.finalize(new_state, keys).orderBy(*keys)


ORDERS_MINMAX_RETRACT_SQL = """
WITH s AS (
  SELECT o_orderstatus, o_orderpriority,
         COUNT(o_totalprice) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sx,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))
             * CAST(o_totalprice AS DECIMAL(12,2))) AS sxx,
         MIN(o_totalprice) AS mn,
         MAX(o_totalprice) AS mx
  FROM orders WHERE o_orderkey % 10 <> 3
  GROUP BY o_orderstatus, o_orderpriority
),
-- decimal→double rounds ONCE via VARCHAR (house rule; see
-- ORDERS_INCREMENTAL_AGG_SQL)
d AS (
  SELECT o_orderstatus, o_orderpriority, n, sx,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx_d,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx_d,
         mn, mx
  FROM s
)
SELECT o_orderstatus, o_orderpriority, n AS n_rows,
       sx_d AS total,
       sx_d / n AS mean,
       (sxx_d - sx_d * sx_d / n) / NULLIF(n - 1, 0) AS variance,
       mn AS min_value,
       mx AS max_value
FROM d
ORDER BY o_orderstatus, o_orderpriority
"""


def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (o_custkey, orderdate
    epoch-seconds) into a 32-bit z-value, bucket by the top 6 bits (the
    64 z-ranges repartitionByRange would turn into files), and emit
    each bucket's row count plus BOTH dimensions' min/max envelope —
    the footer stats that prune scans on either column. See
    sources/zorder for the 100 TB write path; integer-exact ranks
    and shifts make the whole layout engine-portable."""
    from data_migration_tool_spark.sources.zorder import zorder_by

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.unix_timestamp("o_orderdate").alias("o_epoch"),
    )
    z = zorder_by(o, ["o_custkey", "o_epoch"], bits=16, out="zv")
    return (
        z.withColumn("z_bucket", F.shiftright("zv", 26))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


def _z_interleave_sql(ra: str, rb: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({ra} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({rb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ORDERS_ZORDER_SQL = f"""
WITH b AS (
  SELECT MIN(o_custkey) AS mn_c, MAX(o_custkey) AS mx_c,
         MIN(CAST(epoch(o_orderdate) AS BIGINT)) AS mn_d,
         MAX(CAST(epoch(o_orderdate) AS BIGINT)) AS mx_d
  FROM orders
),
r AS (
  SELECT o_custkey, o_orderdate,
         ((o_custkey - mn_c) * 65535) // GREATEST(mx_c - mn_c, 1) AS rc,
         ((CAST(epoch(o_orderdate) AS BIGINT) - mn_d) * 65535)
           // GREATEST(mx_d - mn_d, 1) AS rd
  FROM orders, b
),
z AS (
  SELECT o_custkey, o_orderdate,
         ({_z_interleave_sql("rc", "rd")}) AS zv
  FROM r
)
SELECT zv >> 26 AS z_bucket, COUNT(*) AS n_orders,
       MIN(o_custkey) AS min_custkey, MAX(o_custkey) AS max_custkey,
       MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
FROM z GROUP BY 1
"""


def _synthetic_transfer_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic agent-log lines synthesized from ``nation`` (one
    migrated table per nation; mode/stats/upload/duration/records lines
    each in the agent's real wording, ERROR lines for keys ≡0,1 mod 5,
    RETRY records lines for keys ≡0 mod 6 whose job ids sort
    lexicographically below the originals — the last-writer-wins pin,
    plus the run-scoped Transfer-load and Summary lines) — the shared
    fixture for both transfer-log registry queries."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.lower(F.col("n_name")).alias("t"),
    )
    k, t = F.col("k"), F.col("t")
    s = lambda c: c.cast("string")  # noqa: E731
    agent = F.concat(F.lit("agent-"), s(k % 3))
    pre = F.concat(F.lit("Agent "), agent, F.lit(". EXTRACT (src_db."), t, F.lit("): "))
    job = F.concat(F.lit("bq_job_"), s(k))

    def line(off: int, sev: str, text):
        return F.struct(
            F.lit(off).alias("off"), F.lit(sev).alias("severity"),
            text.alias("message_text"),
        )

    mode = F.when(k % 2 == 0, "FastExport").otherwise("TPT")
    err = (
        F.when(
            k % 5 == 0,
            line(5, "ERROR", F.concat(
                F.lit("Job "), job, F.lit(" (table "), t,
                F.lit(") failed with quota exceeded."))),
        ).when(
            k % 5 == 1,
            line(5, "ERROR", F.concat(
                F.lit("Agent "), agent, F.lit(". Skipping corrupt source table ("),
                t, F.lit(") schema drift detected."))),
        )
    )
    arr = F.array(
        line(0, "INFO", F.concat(pre, F.lit("Running in "), mode,
                                 F.lit(" data transfer mode."))),
        line(1, "INFO", F.concat(
            pre, t, F.lit(": Extracting data for table (approximate "),
            s(k * 37 + 5), F.lit(" MB) with partitions: ["), s(k), F.lit(","),
            s(k + 1), F.lit("] into "), s(k % 4 + 1), F.lit(" files with "),
            s(k % 3 + 1), F.lit(" sessions."))),
        line(2, "INFO", F.concat(pre, F.lit("Uploading extracted files to gs://dmt-staging/"),
                                 t, F.lit("/part-"), s(k), F.lit(".csv."))),
        line(3, "INFO", F.concat(pre, F.lit("Finished extracting data. Duration: "),
                                 s(k * 11 + 2), F.lit(" seconds"))),
        line(4, "INFO", F.concat(
            F.lit("Job "), job, F.lit(" (table "), t,
            F.lit(") completed. Number of records: "), s(k * 1000 + k),
            F.lit(", errors: "), s(k % 7), F.lit("."))),
        err,
        # retry records line for k≡0 mod 6 tables: a SECOND writer of
        # bq_job_id/success_records/error_records whose job id sorts
        # lexicographically BELOW the original ('bq_job_0r6' < 'bq_job_6')
        # — pins the last-writer-wins semantics: a MAX aggregation would
        # keep the original id and hash-mismatch the oracle
        F.when(
            k % 6 == 0,
            line(6, "INFO", F.concat(
                F.lit("Job bq_job_0r"), s(k), F.lit(" (table "), t,
                F.lit(") completed. Number of records: "), s(k * 1000 + k + 7),
                F.lit(", errors: "), s((k + 1) % 7), F.lit("."))),
        ),
    )
    per_table = n.select(k, F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("l")).select(
        (k * 10 + F.col("l.off").cast("long")).alias("line_no"),
        F.col("l.severity").alias("severity"),
        F.col("l.message_text").alias("message_text"),
    )
    run_lines = spark.range(1).select(
        F.explode(F.array(
            line(-2, "INFO", F.lit("Transfer load date: 20260814")),
            line(-1, "INFO", F.lit("Summary: succeeded 20 jobs, failed 5 jobs.")),
        )).alias("l")
    ).select(
        F.col("l.off").cast("long").alias("line_no"),
        F.col("l.severity").alias("severity"),
        F.col("l.message_text").alias("message_text"),
    )
    return per_table.unionByName(run_lines)


def transfer_log_jobwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer-run log mining end-to-end (reference
    teradata_transfer_run_log_dag.py:281-470): synthesize agent log
    lines deterministically from ``nation``, then mine them back with
    ``orchestrate.transfer_logs.mine_job_stats`` — the scan-side
    regexp_extract bank + one table-grain groupBy.  The oracle derives
    the expected jobwise rows DIRECTLY from nation arithmetic, so the
    gate proves the regex mining recovers exactly the values planted in
    the prose.

    Scale: line synthesis and field extraction are pure scan-side
    expressions; the only shuffle is the table-grain groupBy (row count
    = number of migrated tables, not log lines)."""
    from data_migration_tool_spark.orchestrate import transfer_logs as TL

    logs = _synthetic_transfer_logs(spark, sf_dir)
    return TL.mine_job_stats(logs, "u-tl", "cfg-tl", "run-tl")


def _synthetic_redshift_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift-dialect agent logs from ``nation``: Job-grain lines only
    (no per-agent EXTRACT lines exist in that agent's output). Tables
    with key ≡0 mod 4 fail — their ERROR-Job line arrives BEFORE the
    records line, so first-mention job_status capture is exercised."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.lower(F.col("n_name")).alias("t"),
    )
    k, t = F.col("k"), F.col("t")
    s = lambda c: c.cast("string")  # noqa: E731
    job = F.concat(F.lit("bq_job_"), s(k))

    def line(off: int, sev: str, text):
        return F.struct(
            F.lit(off).alias("off"), F.lit(sev).alias("severity"),
            text.alias("message_text"),
        )

    err = F.when(
        k % 4 == 0,
        line(0, "ERROR", F.concat(
            F.lit("Job "), job, F.lit(" (table "), t,
            F.lit(") failed with insufficient cluster capacity."))),
    )
    arr = F.array(
        err,
        line(1, "INFO", F.concat(
            F.lit("Job "), job, F.lit(" (table "), t,
            F.lit(") completed. Number of records: "), s(k * 500 + 7),
            F.lit(", errors: "), s(k % 3), F.lit("."))),
    )
    per_table = n.select(
        k, F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("l")
    ).select(
        (k * 10 + F.col("l.off").cast("long")).alias("line_no"),
        F.col("l.severity").alias("severity"),
        F.col("l.message_text").alias("message_text"),
    )
    run_lines = spark.range(1).select(
        F.explode(F.array(
            line(-3, "INFO", F.lit("Transfer load date: 20260815")),
            line(-2, "ERROR", F.lit("Transfer run hit a service interruption.")),
            line(-1, "INFO", F.lit("Summary: succeeded 18 jobs, failed 7 jobs.")),
        )).alias("l")
    ).select(
        F.col("l.off").cast("long").alias("line_no"),
        F.col("l.severity").alias("severity"),
        F.col("l.message_text").alias("message_text"),
    )
    return per_table.unionByName(run_lines)


def transfer_log_redshift_jobwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift-variant transfer-log mining end-to-end
    (redshift_transfer_run_log_dag.py:250-360): errors attributed by
    Job id into ``bq_job_id``, no agent fields, first-mention
    job_status capture (≡0 mod 4 tables fail first). Same scan-side
    plan as the teradata variant — only the classifier ladder and the
    field writers differ."""
    from data_migration_tool_spark.orchestrate import transfer_logs as TL

    logs = _synthetic_redshift_logs(spark, sf_dir)
    mined = TL.mine_job_stats(logs, "u-rs", "cfg-rs", "run-rs", variant="redshift")
    # EXTRACT-line fields can never bind in this dialect — project the
    # columns that carry information so the oracle row stays honest
    return mined.select(
        "unique_id", "transfer_config_id", "transfer_run_id",
        "src_table_name", "bq_job_id", "run_date", "job_status",
        "transfer_run_state", "success_records", "error_records", "message",
    )


TRANSFER_LOG_REDSHIFT_SQL = """
SELECT 'u-rs' AS unique_id,
       'cfg-rs' AS transfer_config_id,
       'run-rs' AS transfer_run_id,
       lower(n_name) AS src_table_name,
       'bq_job_' || CAST(n_nationkey AS VARCHAR) AS bq_job_id,
       '20260815' AS run_date,
       CASE WHEN n_nationkey % 4 = 0 THEN 'FAILED'
            ELSE 'SUCCEEDED' END AS job_status,
       CASE WHEN n_nationkey % 4 = 0 THEN 'FAILED'
            ELSE 'SUCCEEDED' END AS transfer_run_state,
       CAST(n_nationkey * 500 + 7 AS BIGINT) AS success_records,
       CAST(n_nationkey % 3 AS BIGINT) AS error_records,
       CASE WHEN n_nationkey % 4 = 0
              THEN 'Job bq_job_' || CAST(n_nationkey AS VARCHAR) || ' (table '
                   || lower(n_name) || ') failed with insufficient cluster capacity.'
            ELSE '' END AS message
FROM nation
"""


def transfer_log_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single run-summary row mined from the same synthetic log
    stream (reference ``dts_run_summary_json`` assembly): Summary-line
    job counts, Transfer-load run date, agent id from the LAST
    extract-finished line (reference last-writer-wins), FAILED status
    because ERROR lines exist, NULL error_message because every error
    is table-attributed. One full-scan aggregate; the oracle re-derives
    each field from nation arithmetic."""
    from data_migration_tool_spark.orchestrate import transfer_logs as TL

    logs = _synthetic_transfer_logs(spark, sf_dir)
    return TL.mine_run_summary(logs, "u-tl", "cfg-tl", "run-tl")


TRANSFER_LOG_SUMMARY_SQL = """
SELECT 'u-tl' AS unique_id,
       'cfg-tl' AS transfer_config_id,
       'run-tl' AS transfer_run_id,
       '20260814' AS run_date,
       'agent-' || CAST((SELECT MAX(n_nationkey) FROM nation) % 3 AS VARCHAR)
           AS agent_id,
       CASE WHEN EXISTS (SELECT 1 FROM nation WHERE n_nationkey % 5 IN (0, 1))
            THEN 'FAILED' ELSE 'SUCCEEDED' END AS transfer_run_status,
       CAST(20 AS BIGINT) AS succeeded_jobs,
       CAST(5 AS BIGINT) AS failed_jobs,
       CAST(NULL AS VARCHAR) AS error_message
"""


TRANSFER_LOG_JOBWISE_SQL = """
SELECT 'u-tl' AS unique_id,
       'cfg-tl' AS transfer_config_id,
       'run-tl' AS transfer_run_id,
       lower(n_name) AS src_table_name,
       -- last agent_id writer: the k%5=0 tables' ERROR-Job line lands
       -- the job id in agent_id (the mirrored reference quirk)
       CASE WHEN n_nationkey % 5 = 0
              THEN 'bq_job_' || CAST(n_nationkey AS VARCHAR)
            ELSE 'agent-' || CAST(n_nationkey % 3 AS VARCHAR) END AS agent_id,
       -- last writer wins: k≡0 mod 6 tables carry a RETRY records line
       -- whose job id sorts lexicographically below the original
       CASE WHEN n_nationkey % 6 = 0
              THEN 'bq_job_0r' || CAST(n_nationkey AS VARCHAR)
            ELSE 'bq_job_' || CAST(n_nationkey AS VARCHAR) END AS bq_job_id,
       '20260814' AS run_date,
       -- first mention of every table is its INFO mode line
       'SUCCEEDED' AS job_status,
       CASE WHEN n_nationkey % 5 = 0 THEN 'FAILED'
            WHEN n_nationkey % 5 = 1 THEN 'SKIPPED'
            ELSE 'SUCCEEDED' END AS transfer_run_state,
       CASE WHEN n_nationkey % 6 = 0
              THEN CAST(n_nationkey * 1000 + n_nationkey + 7 AS BIGINT)
            ELSE CAST(n_nationkey * 1000 + n_nationkey AS BIGINT)
            END AS success_records,
       CASE WHEN n_nationkey % 6 = 0 THEN CAST((n_nationkey + 1) % 7 AS BIGINT)
            ELSE CAST(n_nationkey % 7 AS BIGINT) END AS error_records,
       CAST(n_nationkey * 11 + 2 AS VARCHAR) || ' seconds' AS extract_duration,
       CAST(n_nationkey * 37 + 5 AS VARCHAR) || ' MB' AS extract_data_size,
       '[' || CAST(n_nationkey AS VARCHAR) || ','
           || CAST(n_nationkey + 1 AS VARCHAR) || ']' AS extract_partitions,
       CAST(n_nationkey % 4 + 1 AS BIGINT) AS extract_files,
       CAST(n_nationkey % 3 + 1 AS BIGINT) AS extract_sessions,
       'gs://dmt-staging/' || lower(n_name) || '/part-'
           || CAST(n_nationkey AS VARCHAR) || '.csv' AS gcs_file_path,
       CASE WHEN n_nationkey % 2 = 0 THEN 'FastExport' ELSE 'TPT' END
           AS transfer_mode,
       CASE WHEN n_nationkey % 5 = 0
              THEN 'Job bq_job_' || CAST(n_nationkey AS VARCHAR) || ' (table '
                   || lower(n_name) || ') failed with quota exceeded.'
            WHEN n_nationkey % 5 = 1
              THEN 'Agent agent-' || CAST(n_nationkey % 3 AS VARCHAR)
                   || '. Skipping corrupt source table (' || lower(n_name)
                   || ') schema drift detected.'
            ELSE '' END AS message
FROM nation
"""


def dmt_guard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit query over ``dmt_guard_events`` — the guard sink written
    by every operator guard (valve, Jaccard caps, broadcast caps,
    16 TB skip) is now QUERIED back, matching the reference's
    audit-tables-are-queried convention (constants.py:20-107: every
    ``dmt_logs`` table feeds an audit query; latest-run scoping is the
    A3 scalar-MAX shape).

    Seeding is deterministic through the REAL guard code paths, not
    hand-inserted rows: an older run engages ``cap_bucket_size`` once
    (doc_id % 3, cap 1); the LATEST run engages it twice (doc_id % 8
    and doc_id % 4 — implied_cost is the genuine Σ n² hot-bucket pair
    cost over the live corpus, so the oracle must reproduce the guard's
    own arithmetic from ``documents``), then drives
    ``ngram_jaccard_pairs`` on a planted 3-identical-doc corpus against
    a static cap of 1 — once refusing (implied C(3,2)=3 pairs > 1,
    RuntimeError swallowed; the row is the result) and once degrading
    to the LSH-verify path. Output: per (guard, action) engagement
    counts, summed implied cost, cap, and the implied_cost/cap ratio —
    scoped to MAX(run_id) so the older run's row must be excluded.

    Scale: the audit table is engagement-grain (rows = guard trips per
    run, not data rows); every aggregate here is over that tiny frame.
    The seeding scans are one bucket histogram per cap_bucket_size call
    (map-side combined) and a 3-row shingle join."""
    import shutil
    import tempfile

    from data_migration_tool_spark.audit.log import AuditLog
    from data_migration_tool_spark.operators import dedup as DD
    from data_migration_tool_spark.operators import similarity as SIM

    root = tempfile.mkdtemp(prefix="dmt_guardaudit_")
    try:
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id")
        )

        older = AuditLog(spark, root, run_id="run-001")
        SIM.cap_bucket_size(
            docs.select("doc_id", (F.col("doc_id") % 3).alias("bucket")),
            "bucket", 1, audit=older, context="doc_id%3",
        )

        latest = AuditLog(spark, root, run_id="run-002")
        for mod in (8, 4):
            SIM.cap_bucket_size(
                docs.select("doc_id", (F.col("doc_id") % mod).alias("bucket")),
                "bucket", 1, audit=latest, context=f"doc_id%{mod}",
            )
        tiny = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
             (3, "alpha beta gamma")],
            "doc_id long, text string",
        )
        try:
            DD.ngram_jaccard_pairs(tiny, max_join_pairs=1, audit=latest)
        except RuntimeError:
            pass  # the refusal IS the result — its guard row is the point
        DD.ngram_jaccard_pairs(
            tiny, max_join_pairs=1, auto_candidates=True, audit=latest
        )

        # the audit read is driver-resident (AuditLog.table), so the plan
        # holds the rows, not the files: the scratch dir goes on every exit
        ev = AuditLog(spark, root).table("dmt_guard_events")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    mx = ev.agg(F.max("run_id").alias("run_id"))
    return (
        ev.join(F.broadcast(mx), "run_id")
        .groupBy("run_id", "guard", "action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("engagements"),
            F.sum("implied_cost").cast("long").alias("implied_cost"),
            F.max("cap").cast("long").alias("cap"),
        )
        .withColumn(
            "cost_cap_ratio",
            F.col("implied_cost").cast("double")
            / F.col("cap").cast("double"),
        )
        .orderBy("guard", "action")
    )


DMT_GUARD_AUDIT_SQL = """
WITH b8 AS (SELECT COUNT(*) AS n FROM documents GROUP BY doc_id % 8),
b4 AS (SELECT COUNT(*) AS n FROM documents GROUP BY doc_id % 4),
reroute AS (
  SELECT (SELECT COALESCE(SUM(CASE WHEN n > 1 THEN n * n END), 0) FROM b8)
       + (SELECT COALESCE(SUM(CASE WHEN n > 1 THEN n * n END), 0) FROM b4)
       AS implied
)
SELECT 'run-002' AS run_id,
       'cap_bucket_size' AS guard,
       'reroute' AS action,
       CAST(2 AS BIGINT) AS engagements,
       CAST(implied AS BIGINT) AS implied_cost,
       CAST(1 AS BIGINT) AS cap,
       CAST(CAST(implied AS BIGINT) AS DOUBLE) / CAST(1 AS DOUBLE)
           AS cost_cap_ratio
FROM reroute
UNION ALL
SELECT 'run-002', 'ngram_jaccard_pairs', 'degrade',
       CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT),
       CAST(3 AS DOUBLE)
UNION ALL
SELECT 'run-002', 'ngram_jaccard_pairs', 'refuse',
       CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT),
       CAST(3 AS DOUBLE)
"""


def orders_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (r10 — the join
    complement of ``orders_incremental_agg``'s partial-aggregate
    algebra). The orders⋈lineitem view is maintained under insert-only
    deltas via the classic delta rule Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    (``operators/incremental_agg.join_delta``): orders splits on
    orderkey % 10 == 0, lineitem on orderkey % 15 == 0 — DIFFERENT
    predicates, so all three delta terms are non-empty and the %30
    overlap exercises ΔA⋈ΔB. Spark assembles the view as
    base_view ∪ delta and aggregates per order status (exact-decimal
    revenue); the oracle aggregates the direct full join. A dropped or
    duplicated delta row hash-fails the counts and the revenue.

    Scale shape: the base tables never join each other in the
    maintenance path; each delta term shuffles at most one delta side
    (bucketed bases + broadcast deltas make it shuffle-free); cost is
    O(Δ·matched), never O(base) — the reference's append-window load
    contract extended to derived join views."""
    from data_migration_tool_spark.operators.incremental_agg import (
        join_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (
                F.lit(1).cast("decimal(3,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    base_o = o.filter(F.col("orderkey") % 10 != 0)
    delta_o = o.filter(F.col("orderkey") % 10 == 0)
    base_l = l.filter(F.col("orderkey") % 15 != 0)
    delta_l = l.filter(F.col("orderkey") % 15 == 0)

    view = base_o.join(base_l, ["orderkey"]).unionByName(
        join_delta(base_o, delta_o, base_l, delta_l, ["orderkey"])
    )
    return (
        view.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rev").cast("double").alias("sum_revenue"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_JOIN_IVM_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
       ) AS DOUBLE) AS sum_revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def orders_join_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full insert+DELETE maintenance of a JOIN view in one plan (r11
    — VERDICT r10 #4, the oracle gate for ``operators/incremental_agg.
    join_retract``). One batch both deletes and inserts rows on both
    sides of the orders⋈lineitem view:

        deletes: orders orderkey % 10 == 3, lineitem orderkey % 15 == 3
        inserts: orders orderkey % 10 == 0, lineitem orderkey % 15 == 0

    % 30 == 3 orders are deleted on BOTH sides (exercising
    join_retract's double-retraction trap — the second term joins the
    RETAINED a-side) and % 30 == 0 orders are inserted on both
    (exercising join_delta's ΔA⋈ΔB term). The maintained view is
    composed exactly as the operator contracts prescribe: retract
    first via multiset ``exceptAll`` of ``join_retract``'s Δ⁻, then
    union ``join_delta`` of the inserts against the RETAINED bases.
    The oracle aggregates the direct join of the post-change tables
    (orders minus deletes, lineitem minus deletes — inserts are
    already present in the full table), so a row retracted twice,
    never retracted, or double-inserted hash-fails the counts and the
    exact-decimal revenue.

    Scale shape: the base tables never join each other in the
    maintenance path — every delta term carries at least one small
    side (broadcast-able); the one full-base participant,
    ``A.exceptAll(δA)``, is an anti-style subtraction against the
    small delta. Cost is O(δ·matched), never O(base) — a deleted day
    retracts in delta time instead of rebuilding the view."""
    from data_migration_tool_spark.operators.incremental_agg import (
        join_delta,
        join_retract,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (
                F.lit(1).cast("decimal(3,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    # world state BEFORE the batch: everything but the to-be-inserted
    base_o = o.filter(F.col("orderkey") % 10 != 0)
    base_l = l.filter(F.col("orderkey") % 15 != 0)
    del_o = base_o.filter(F.col("orderkey") % 10 == 3)
    del_l = base_l.filter(F.col("orderkey") % 15 == 3)
    ins_o = o.filter(F.col("orderkey") % 10 == 0)
    ins_l = l.filter(F.col("orderkey") % 15 == 0)

    view0 = base_o.join(base_l, ["orderkey"])
    # join_retract is called WITHOUT retained_a on purpose: this query
    # is the oracle gate for the operator's default exceptAll path.
    view1 = view0.exceptAll(
        join_retract(base_o, del_o, base_l, del_l, ["orderkey"])
    )
    # The kept frames feeding join_delta are fixture prep, not the
    # operator under test — filter complements replace their
    # exceptAlls (r13, guide §2.4: multiset-identical for predicate
    # slices over non-null keys, minus 4 exchanges; oracle
    # hash-proved).
    kept_o = base_o.filter(F.col("orderkey") % 10 != 3)
    kept_l = base_l.filter(F.col("orderkey") % 15 != 3)
    view2 = view1.unionByName(
        join_delta(kept_o, ins_o, kept_l, ins_l, ["orderkey"])
    )
    return (
        view2.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rev").cast("double").alias("sum_revenue"),
        )
        .orderBy("o_orderstatus")
    )


# Post-change world: orders minus the deleted %10==3 slice, lineitem
# minus the deleted %15==3 slice (the inserted slices are part of the
# full tables already). The direct join of these IS what the
# retract-then-insert maintenance must reproduce multiset-exactly.
ORDERS_JOIN_IVM_RETRACT_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
       ) AS DOUBLE) AS sum_revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 10 <> 3 AND l_orderkey % 15 <> 3
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def orders_join_ivm_retract_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned retraction apply for the join-view IVM family
    (r12 — VERDICT r11 #3). Same change batch as
    ``orders_join_ivm_retract`` (deletes o%10==3 / l%15==3, inserts
    o%10==0 / l%15==0), but the maintained view lives ON DISK
    partitioned by the key-derived bucket ``pb = orderkey % 20``, and
    the apply goes through ``operators/incremental_agg.
    apply_view_changes_pruned``: the touched-bucket set is derived
    from the deltas themselves, the Δ⁻ ``exceptAll`` runs against the
    TOUCHED partitions only (PartitionFilters at the file source —
    untouched directories never read), and dynamic partition
    overwrite rewrites exactly those partitions. This removes the one
    O(view) pass the r11 plan carried (its whole-view ``exceptAll``
    measured second-decade exponent 0.63; cost here is O(Δ + touched
    partitions)).

    pb = orderkey % 20 makes the batch exercise every apply shape at
    once: buckets 3/13 are retracted WHOLE (o%10==3 ⇒ the operator's
    emptied-partition deletion path — dynamic overwrite alone would
    silently keep them), buckets 8/18 lose only their l%15==3 rows
    (partial-bucket exceptAll), buckets 0/10 are CREATED by inserts
    (keys %10==0 absent from the base view), buckets 5/15 gain insert
    rows next to retained ones — and the 12 remaining buckets pass
    through with their files untouched.

    The derived touched-bucket COUNT rides the output (one extra
    column at group grain), so the oracle cross-checks the pruning
    arithmetic itself: DuckDB independently derives which pb buckets
    the retraction and insert deltas touch from the same predicates
    — a bucket wrongly touched or wrongly skipped hash-fails.

    pb is the test stand-in for the production choice (a date
    partition — "retract a day, rewrite that day" is the canonical
    case). File-granularity pytest: tests/test_dataops.py::
    test_apply_view_changes_pruned_touches_only_retracted_buckets."""
    import shutil
    import tempfile

    from data_migration_tool_spark.operators.incremental_agg import (
        apply_view_changes_pruned,
        join_delta,
        join_retract,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (
                F.lit(1).cast("decimal(3,2)")
                - F.col("l_discount").cast("decimal(4,2)")
            )
        ).alias("rev"),
    )
    base_o = o.filter(F.col("orderkey") % 10 != 0)
    base_l = l.filter(F.col("orderkey") % 15 != 0)
    del_o = base_o.filter(F.col("orderkey") % 10 == 3)
    del_l = base_l.filter(F.col("orderkey") % 15 == 3)
    ins_o = o.filter(F.col("orderkey") % 10 == 0)
    ins_l = l.filter(F.col("orderkey") % 15 == 0)

    pb = (F.col("orderkey") % 20).alias("pb")
    root = tempfile.mkdtemp(prefix="dmt_ivm_pruned_")
    path = f"{root}/view"
    # rebalance-by-bucket before the partitioned write (r13 opt, guide
    # §6): one file per bucket at test scale instead of n_tasks × 20,
    # which the pruned apply's touched-bucket reads and the final view
    # scan would otherwise re-pay in listing/open cost
    base_o.join(base_l, ["orderkey"]).select(
        "orderkey", "o_orderstatus", "rev", pb
    ).hint("rebalance", "pb").write.partitionBy("pb").parquet(path)

    # The retained/kept frames are FILTER COMPLEMENTS, not exceptAlls
    # (r13, guide §2.4): del_o/del_l are predicate slices of their
    # bases (orderkey%10==3 / %15==3 over non-null keys), so
    # base.exceptAll(del) equals base.filter(NOT pred) as a multiset —
    # and Spark plans EXCEPT ALL as a two-sided full shuffle with
    # count bookkeeping (4 exchanges here) that the filter form never
    # pays. Oracle hash-proved identical.
    retract = join_retract(
        base_o, del_o, base_l, del_l, ["orderkey"],
        retained_a=base_o.filter(F.col("orderkey") % 10 != 3),
    ).select("orderkey", "o_orderstatus", "rev", pb)
    kept_o = base_o.filter(F.col("orderkey") % 10 != 3)
    kept_l = base_l.filter(F.col("orderkey") % 15 != 3)
    inserts = join_delta(
        kept_o, ins_o, kept_l, ins_l, ["orderkey"]
    ).select("orderkey", "o_orderstatus", "rev", pb)

    touched = apply_view_changes_pruned(
        spark, path, retract=retract, inserts=inserts, bucket_col="pb"
    )
    out = (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rev").cast("double").alias("sum_revenue"),
        )
        .withColumn(
            "n_touched_buckets", F.lit(len(touched)).cast("long")
        )
        .orderBy("o_orderstatus")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


ORDERS_JOIN_IVM_RETRACT_PRUNED_SQL = """
WITH base_o AS (
  SELECT o_orderkey AS orderkey, o_orderstatus FROM orders
  WHERE o_orderkey % 10 <> 0
),
base_l AS (
  SELECT l_orderkey AS orderkey,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
           AS rev
  FROM lineitem WHERE l_orderkey % 15 <> 0
),
-- Δ⁻ buckets: del_o ⋈ base_l, plus retained_o ⋈ del_l
retract_pb AS (
  SELECT DISTINCT o.orderkey % 20 AS pb
  FROM base_o o JOIN base_l l ON o.orderkey = l.orderkey
  WHERE o.orderkey % 10 = 3
  UNION
  SELECT DISTINCT l.orderkey % 20 AS pb
  FROM base_o o JOIN base_l l ON o.orderkey = l.orderkey
  WHERE l.orderkey % 15 = 3 AND o.orderkey % 10 <> 3
),
-- Δ⁺ buckets: ins_o ⋈ kept_l, kept_o ⋈ ins_l, ins_o ⋈ ins_l
insert_pb AS (
  SELECT DISTINCT o.o_orderkey % 20 AS pb
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE (o.o_orderkey % 10 = 0
         AND l.l_orderkey % 15 <> 0 AND l.l_orderkey % 15 <> 3)
     OR (l.l_orderkey % 15 = 0
         AND o.o_orderkey % 10 <> 0 AND o.o_orderkey % 10 <> 3)
     OR (o.o_orderkey % 10 = 0 AND l.l_orderkey % 15 = 0)
),
touched AS (
  SELECT COUNT(*) AS n_touched
  FROM (SELECT pb FROM retract_pb UNION SELECT pb FROM insert_pb)
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
       ) AS DOUBLE) AS sum_revenue,
       (SELECT CAST(n_touched AS BIGINT) FROM touched)
         AS n_touched_buckets
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 10 <> 3 AND l_orderkey % 15 <> 3
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
