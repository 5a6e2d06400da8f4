"""Physical-plan regression tests — the scale contract, codified.

These assert the *shape* Catalyst produces, not results: predicates
reach the parquet scans, column pruning holds, small sides broadcast,
PK compares sort-merge, hot relational/text paths contain no Python
nodes, and whole-stage codegen covers the scan+agg pipelines. A change
that silently de-optimizes a plan (e.g. a cast that blocks pushdown, a
UDF that sneaks into a JVM path) fails here long before it would show
up in a 100 TB bill.
"""

from __future__ import annotations

import pytest

from data_migration_tool_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name].builder(spark, SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q6_all_predicates_pushed(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.02)" in plan
    assert "LessThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # exactly the 7 needed columns reach the scan — no full-row read
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in read[0]
    assert "l_orderkey" not in read[0] and "l_partkey" not in read[0]


def test_q3_broadcasts_filtered_dimension(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # pushed, not post-scan
    assert "LessThan(o_orderdate" in plan


def test_q10_nation_broadcast(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_row_validation_is_sort_merge_on_pk(spark):
    plan = _plan(spark, "dvt_row_validation")
    assert "SortMergeJoin" in plan and "FullOuter" in plan


def test_semi_join_for_exists(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q10_returned_items",
        "dvt_column_validation",
        "dvt_row_validation",
        "doc_exact_dedup",
        "doc_minhash_lsh_dedup",
        "doc_token_stats",
        "doc_language_id",
        "events_last_day_window",
        "orders_quality_expectations",
        "orders_incremental_agg",
        "orders_zorder_layout",
        "doc_split_ks_drift",
        "doc_split_chi2_drift",
        "customer_rolling_30d_spend",
        "customer_top2_orders_lateral",
        "doc_span_dedup_clean",
        "doc_simhash_near_dups",
    ],
)
def test_no_python_in_jvm_paths(spark, name):
    """Relational / validation / text plans must stay JVM-side — any
    Python eval node here is an accidental UDF on the hot path."""
    plan = _plan(spark, name)
    assert "Python" not in plan, f"{name} plan contains a Python node"


def test_q1_single_shuffle_with_map_side_combine(spark):
    simple = _plan(spark, "q1_pricing_summary", mode="simple")
    # one Exchange total, fed by partial aggregation: the shuffle carries
    # (6 groups × partial states), never rows
    assert simple.count("Exchange") == 1
    assert "partial_sum" in simple
    # projection happens below the shuffle
    assert simple.index("Project") > simple.index("Exchange")


def _pipeline_plan(spark, pipeline_fn, mode: str = "formatted") -> str:
    """Explain a builder's PRE-materialization frame. The media
    builders return an eager localCheckpoint taken inside their
    ``partitioning.cached`` scope, so their query-level plan is a Scan
    ExistingRDD; the plan-shape pins live on the pipeline frame the
    checkpoint consumed. The pipeline's caches are returned uncached."""
    out, _ = pipeline_fn(spark, SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return out._jdf.queryExecution().explainString(jmode)


def test_media_builder_releases_its_cache_when_the_kernel_raises(spark, monkeypatch):
    """A builder that raises after caching its blob corpus still leaves
    Spark's cache manager empty: the cache scope releases on the raise
    path, not only on return."""
    from data_migration_tool_spark.operators import multimodal
    from data_migration_tool_spark.plans import mediaq

    def boom(*_a, **_k):
        raise RuntimeError("kernel failed")

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    monkeypatch.setattr(multimodal, "resize_images", boom)
    with pytest.raises(RuntimeError, match="kernel failed"):
        mediaq.media_image_resize(spark, SF_DIR)
    assert cache.isEmpty()


def test_arrow_kernels_where_intended(spark):
    """The ANN/media paths DO use Arrow-batched Python — assert the node
    type is the Arrow map, not row-at-a-time BatchEvalPython."""
    from data_migration_tool_spark.plans.mediaq import _feature_extract_pipeline

    for name in ("knn_brute_force", "knn_label_vote"):
        plan = _plan(spark, name)
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan
    plan = _pipeline_plan(spark, _feature_extract_pipeline)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_q18_preaggregates_before_join(spark):
    """The HAVING subquery must reduce lineitem to order grain *before*
    the orders join: partial_sum (map-side combine) under the orderkey
    exchange, and the filter on the aggregated quantity above it."""
    simple = _plan(spark, "q18_large_orders", mode="simple")
    assert "partial_sum" in simple
    # the sum_qty filter sits on the aggregate, not after the join: the
    # last (deepest) Filter line mentions the aggregated alias
    agg_filters = [
        ln for ln in simple.splitlines() if "Filter" in ln and "sum_qty_dec" in ln
    ]
    assert agg_filters, "quantity HAVING not applied at aggregate grain"


def test_q19_disjunction_residuals_pushed(spark):
    """OR-of-conjunctions: Catalyst must still extract the part-side
    residual (brand IN ...) to the part scan, and join on partkey."""
    plan = _plan(spark, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    # per-table residuals of the OR reach both scans as pushed filters
    assert "EqualTo(p_brand,Brand#2)" in plan  # part-side disjunct pushed
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem-side pushed


def test_q17_decorrelated_single_lineitem_grain(spark):
    plan = _plan(spark, "q17_small_quantity_revenue")
    # correlated avg decorrelates to an aggregate joined back -- no
    # nested-loop / cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_no_fact_self_join(spark):
    """EXISTS / NOT EXISTS pair collapses to per-order distinct counts:
    lineitem must be scanned exactly twice at most (once for the join,
    never three times as in the naive triple-self-join plan)."""
    plan = _plan(spark, "q21_suppliers_kept_waiting")
    assert plan.count("lineitem.parquet") <= 2


def test_q22_anti_join_with_pushed_date(spark):
    plan = _plan(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_user_sessions_single_shuffle(spark):
    """Both stacked windows + the session aggregate share the user_id
    partitioning — exactly one exchange in the whole plan."""
    simple = _plan(spark, "user_sessions", mode="simple")
    assert simple.count("Exchange") == 1
    assert "Python" not in simple


def test_sessionization_paths_agree_under_power_user_skew(spark):
    """Pin the user_sessions docstring's 100 TB skew claim with data:
    on a power-user distribution (one user owns ~90% of events), the
    window-based sessionizer and the skew-robust native session_window
    twin (map-side partial aggregation) must produce the IDENTICAL
    per-user session set — counts, boundaries-derived session count,
    and exact decimal sums."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 3, 1)
    rows = []
    # power user 1: 900 events — 30-second steps inside a block (block
    # span 29.5 min), blocks 2 h apart → inter-block gap 90.5 min > 30
    # → exactly 15 sessions of 60 events
    for i in range(900):
        ts = base + datetime.timedelta(
            seconds=30 * (i % 60), hours=2 * (i // 60)
        )
        rows.append((1, ts, 1.0))
    # long-tail users 2..11: 3 events each, one mid-stream 31-min gap
    for u in range(2, 12):
        for j, off in enumerate([0, 10, 41]):
            rows.append((u, base + datetime.timedelta(minutes=off), 0.5))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    flag = F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1).otherwise(0)
    manual = (
        df.withColumn("s", F.sum(flag).over(w))
        .groupBy("user_id", "s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(us).alias("start_us"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        .select("user_id", "n", "start_us", "v")
    )
    native = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        .select(
            "user_id", "n", F.unix_micros(F.col("sw.start")).alias("start_us"), "v"
        )
    )
    m = {(r.user_id, r.start_us): (r.n, r.v) for r in manual.collect()}
    nv = {(r.user_id, r.start_us): (r.n, r.v) for r in native.collect()}
    assert m == nv
    assert sum(1 for (u, _) in m if u == 1) == 15  # the power user's sessions

    # the skew-robustness claim itself, from the physical plan: the
    # native path must place a PARTIAL aggregate BEFORE the user_id
    # exchange (hot-user events combine map-side, so the post-shuffle
    # task receives session-grain partials, not the user's raw events)
    # while the window path necessarily ships raw rows to one task.
    native_plan = native._jdf.queryExecution().executedPlan().toString()
    i_partial = native_plan.find("partial_count")
    i_exchange = native_plan.find("Exchange hashpartitioning(user_id")
    assert 0 <= i_exchange < i_partial, native_plan[:800]
    manual_plan = manual._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" not in manual_plan.split("Exchange")[-1]


def test_hash_sampling_is_scan_only(spark):
    """Deterministic md5 sampling must be a shuffle-free scan+filter."""
    simple = _plan(spark, "doc_hash_sample", mode="simple")
    assert "Exchange" not in simple
    assert "Python" not in simple


def test_running_revenue_one_window_exchange(spark):
    simple = _plan(spark, "customer_running_revenue", mode="simple")
    # lag/lead/row_number/running-sum all ride one o_custkey exchange
    assert simple.count("Exchange") == 1


def test_q2_dims_broadcast_and_part_filter_pushed(spark):
    """The derived supply relation aggregates lineitem once; every
    dimension (supplier/nation/region/part) broadcasts, and the
    p_size predicate reaches the part scan."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_size,15)" in plan
    assert "EqualTo(r_name,EUROPE)" in plan
    assert plan.count("lineitem.parquet") == 1


def test_q9_part_name_prefix_pushed(spark):
    plan = _plan(spark, "q9_product_type_profit")
    assert "StringStartsWith(p_name,red)" in plan
    assert "BroadcastHashJoin" in plan


def test_q11_nation_pushed_and_scalar_broadcast(spark):
    """The scalar global-total threshold joins back as a broadcast
    nested-loop of a 1-row aggregate — never a shuffled cartesian."""
    plan = _plan(spark, "q11_important_parts")
    assert "EqualTo(n_name,NATION_7)" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_anti_join_broadcasts_exclusion(spark):
    plan = _plan(spark, "q16_part_supplier_relation")
    assert "LeftAnti" in plan
    assert "LessThan(s_acctbal,0.0)" in plan


def test_q20_fact_pruned_before_shuffle(spark):
    """Ship-date range and red-part broadcast prune the fact scan
    before its single (part, supplier) aggregation shuffle."""
    plan = _plan(spark, "q20_dominant_shippers")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "StringStartsWith(p_name,red)" in plan
    assert plan.count("lineitem.parquet") == 1


def test_scd2_history_single_exchange(spark):
    """Change-collapse lag and interval lead share one (custkey ×
    order) exchange — the filter between them preserves partitioning."""
    simple = _plan(spark, "customer_status_history", mode="simple")
    assert simple.count("Exchange") == 1
    assert "Python" not in simple


def test_training_shards_and_packing_single_exchange(spark):
    """Shard assignment and sequence packing each ride exactly one
    shard-keyed exchange; the running sum / row_number are
    partition-local after it."""
    for name in ("doc_training_shards", "doc_sequence_packing"):
        simple = _plan(spark, name, mode="simple")
        assert simple.count("Exchange") == 1, name
        assert "Python" not in simple, name


def test_dup_cluster_canonical_no_raw_row_window(spark):
    """Survivor selection is a groupBy argmax at cluster grain — the
    plan must contain no Window node (a window over raw doc rows is
    the shape that does NOT scale)."""
    simple = _plan(spark, "dup_cluster_canonical", mode="simple")
    assert "Window" not in simple
    assert "Python" not in simple


def test_countmin_sketch_broadcasts_sketch_side(spark):
    """The 96-cell sketch must broadcast into the estimate join; the
    token stream is never re-shuffled for the lookup."""
    simple = _plan(spark, "token_countmin_sketch", mode="simple")
    assert "BroadcastHashJoin" in simple
    assert "Python" not in simple


def test_lm_fluency_model_table_not_broadcast_by_hand(spark):
    """The bigram LM join must be a plain equi-join (AQE decides the
    strategy at runtime); nothing in the plan may collect the model."""
    simple = _plan(spark, "doc_lm_fluency", mode="simple")
    assert "Python" not in simple
    assert "CartesianProduct" not in simple


def test_chunk_overlap_is_scan_only(spark):
    # chunking must be a pure map: no exchange anywhere in the plan
    plan = _plan(spark, "doc_chunk_overlap")
    assert "Exchange" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_source_cap_sorts_only_overcap_branch(spark):
    # the pass-through (anti-join) branch must reach the union without
    # a sort; only the over-cap branch carries the single Window
    simple = _plan(spark, "doc_source_cap", mode="simple")
    assert simple.count("Window [") == 1  # WindowGroupLimit lines excluded
    assert simple.count("BroadcastHashJoin") == 2  # anti + semi, both broadcast
    assert "Union" in simple
    # the anti branch prints first: no Sort anywhere above/within it
    anti = simple.index("LeftAnti")
    assert "Sort" not in simple[:anti]
    # bonus: row_number cap is pre-limited below the shuffle
    assert "WindowGroupLimit" in simple


def test_pq_encode_scan_only_and_no_python(spark):
    plan = _plan(spark, "embedding_pq_codes")
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in plan


def test_pq_adc_broadcasts_queries(spark):
    plan = _plan(spark, "pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in plan


def test_filter_funnel_single_partial_agg_shuffle(spark):
    # one scan, partial agg before the exchange, 5-row final agg
    simple = _plan(spark, "doc_filter_funnel", mode="simple")
    assert simple.count("Exchange") == 1
    assert "partial_count" in _plan(spark, "doc_filter_funnel")


def test_retention_cohorts_copartitioned_shuffles(spark):
    # no more than: first-touch agg exchange, join exchanges, final agg
    simple = _plan(spark, "user_retention_cohorts", mode="simple")
    assert simple.count("Exchange") <= 4


def test_rolling_30d_single_shuffle(spark):
    """The RANGE-frame rolling spend reuses one custkey exchange for
    both window aggregates."""
    simple = _plan(spark, "customer_rolling_30d_spend", mode="simple")
    assert simple.count("Exchange") == 1
    assert "Python" not in simple


def test_lateral_decorrelates_to_window_join(spark):
    """Catalyst must decorrelate the LATERAL ORDER BY/LIMIT subquery
    into a ranked window + join — never a per-row replay or a
    cartesian product."""
    simple = _plan(spark, "customer_top2_orders_lateral", mode="simple")
    assert "Window" in simple
    assert "CartesianProduct" not in simple and "BroadcastNestedLoop" not in simple


def test_expectations_suite_single_aggregate_pass(spark):
    """The whole expectations suite is one aggregation over orders —
    countDistinct expands it to a two-stage agg, but there is no
    second scan of the table."""
    simple = _plan(spark, "orders_quality_expectations", mode="simple")
    assert simple.count("Scan parquet") == 1


def test_no_query_uses_row_python_registry_wide(spark):
    """Structural invariant over the WHOLE registry: no query's plan
    may contain a row-at-a-time Python eval node (BatchEvalPython).
    Arrow-batched nodes (MapInPandas / ArrowEvalPython) are the only
    sanctioned Python. Streaming queries are exercised by their own
    e2e paths (plan here would start a stream)."""
    streaming = {
        n for n, qd in QUERIES.items() if "streaming" in qd.tags
    }
    offenders = []
    for name in QUERIES:
        if name in streaming:
            continue
        try:
            plan = _plan(spark, name, mode="simple")
        except Exception as e:  # noqa: BLE001
            offenders.append(f"{name}: explain failed: {e}")
            continue
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_bm25_single_explode_and_prefilter(spark):
    """doc_bm25_topk's scale contract: the corpus is exploded exactly
    once (df rides the tf frame as a window count — a separate
    groupBy(term) subtree would be column-pruned into a second explode),
    the query-vocabulary IN filter sits between the Generate and the
    first Exchange so only matching postings shuffle, the top-k window
    runs under WindowGroupLimit (rank pushdown), and no Python node
    appears anywhere."""
    plan = _plan(spark, "doc_bm25_topk")
    tree = plan.split("\n\n")[0]
    assert tree.count("Generate") == 1
    assert "WindowGroupLimit" in tree
    assert "Python" not in tree and "ArrowEval" not in tree
    # vocabulary prefilter: the IN condition exists, and in the detailed
    # section it is applied to the exploded term column (not post-join)
    assert "IN (agg,filter,hash,join,scan,stream,vector,window)" in plan
    gen = tree.index("Generate")
    first_exchange_above = tree.rindex("Exchange", 0, gen)
    filt = tree.rindex("Filter", 0, gen)
    assert first_exchange_above < filt < gen  # Exchange ... Filter ... Generate


def test_codec_lanes_pin_parallelism_past_aqe(spark):
    """The CPU-bound codec stages must carry explicit numPartitions
    exchanges (REPARTITION_BY_NUM) — AQE sizes post-shuffle partitions
    by BYTES and would coalesce a small blob corpus onto one core,
    serializing the per-blob Python decode work (the r10 starvation
    fix; measured 4-6x on the media gate queries). Both the generator
    seed spread and the post-dedup spread must survive in the plan."""
    from data_migration_tool_spark.plans.mediaq import (
        _jpeg_decode_pipeline,
        _transcode_chain_pipeline,
    )

    for fn in (_jpeg_decode_pipeline, _transcode_chain_pipeline):
        plan = _pipeline_plan(spark, fn)
        assert "REPARTITION_BY_NUM" in plan, fn.__name__
    # the dedup-before-decode pipeline spreads its distinct blobs too:
    # transcode chains carry at least two pinned exchanges (seed +
    # post-dedup), visible as multiple RoundRobin/hash REPARTITION marks
    plan = _pipeline_plan(spark, _transcode_chain_pipeline)
    assert plan.count("REPARTITION_BY_NUM") >= 2
