"""Iterative graph algorithms on edge DataFrames.

PageRank joins connected components (operators/dedup) as the second
canonical iterative graph workload: rank flows along edges in rounds,
each round exactly ONE join (ranks onto out-edges) and ONE groupBy
(contributions at the destination) — the same bounded-lineage loop
discipline as ``dup_clusters`` (localCheckpoint per round keeps the
plan O(1) in iteration count).

At 100 TB of edges: both the join and the aggregation are keyed
shuffles on node id; degree skew (celebrity nodes) is the classic
hazard and is AQE-skew-split territory, with salting as the manual
fallback. Ranks are one double per node — state scales with nodes,
not edges.

Float note: ``pagerank``'s per-destination contribution sums are
floating-point and partition-order dependent (numpy power-iteration
equality test in tests/test_dataops.py is its value contract).
``pagerank_exact`` removes that caveat entirely — scaled-int64
fixed-point arithmetic with truncating division, order-independent and
bit-identical cross-engine — and is what the registry's `part_pagerank`
query runs so PageRank sits in the exact-hash oracle lane.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_migration_tool_spark.partitioning import cached, par_jobs, scoped_loop


@contextmanager
def _edge_caches(edges: DataFrame, src_col: str, dst_col: str):
    """Scope yielding the PageRank loop's cached inputs (nodes, out_deg,
    ef): the node set of the distinct (src, dst) edges, each source's
    out-degree, and the edges with that degree folded on. ``ef.count()``
    populates the edge, degree and ``ef`` caches on entry."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    with cached(e.distinct()) as e, cached(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")),
    ) as (nodes, out_deg), cached(e.join(out_deg, "src")) as ef:
        ef.count()
        yield nodes, out_deg, ef


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Returns (node, rank). Dangling mass (nodes with no out-edges) is
    redistributed uniformly each round, so ranks sum to 1 and match
    the standard formulation.

    ``broadcast_ranks=True`` hints the per-round rank table onto the
    edge join as a broadcast: when the node set is dimension-scale
    (e.g. a parts catalog under billions of fact edges), this removes
    the per-iteration EDGE shuffle entirely — edges never move, only
    the contribution aggregation shuffles. Leave False when nodes are
    fact-scale and let AQE decide.
    """
    # cache the (possibly expensive) edge derivation once — every
    # iteration re-reads it, and uncached an edge list built from a
    # self-join would be recomputed per round. ``ef`` folds the STATIC
    # out-degree onto the edge table once: every round's contribution
    # plan drops from two joins to one probe of the rank table
    # (measured 7.4 s -> 4.5 s over 6 rounds at sf0.1 on the exact
    # twin); out_deg stays cached separately for the dangling
    # anti-join. Every round's checkpoint is eager, so the ranks are
    # materialized before the caches release.
    with _edge_caches(edges, src_col, dst_col) as (nodes, out_deg, ef):
        n = nodes.count()
        # dangling short-circuit: same argument as ``pagerank_exact`` —
        # with zero dangling nodes m ≡ 0.0 and IEEE x + 0.0 = x for the
        # positive ranks here, so dropping the term is bit-identical
        n_dangling = nodes.join(
            out_deg, nodes.node == out_deg.src, "left_anti"
        ).count()
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()

        for _ in range(iters):
            rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
            contribs = (
                ef.join(rank_side, ef.src == rank_side.node)
                .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            new_ranks = nodes.join(
                contribs, nodes.node == contribs.dst, "left_outer"
            )
            if n_dangling:
                # dangling mass (nodes without out-edges) as a lazy 1-row
                # broadcast — folded into the round's single job instead
                # of a separate driver action per iteration
                dangling = ranks.join(
                    out_deg, ranks.node == out_deg.src, "left_anti"
                ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                ranks = (
                    new_ranks.crossJoin(F.broadcast(dangling))
                    .select(
                        "node",
                        (
                            F.lit((1.0 - damping) / n)
                            + F.lit(damping) * F.col("m") / F.lit(float(n))
                            + F.lit(damping)
                            * F.coalesce(F.col("contrib"), F.lit(0.0))
                        ).alias("rank"),
                    )
                    .localCheckpoint()
                )
            else:
                ranks = new_ranks.select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("rank"),
                ).localCheckpoint()
        return ranks


def pagerank_exact(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 6,
    scale: int = 10**12,
    broadcast_ranks: bool = False,
    loop_shuffle_partitions: int | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed-point PageRank: the same power iteration as ``pagerank``
    carried entirely in scaled int64 (rank ≙ rank_scaled / 10^12) with
    truncating integer division — so per-destination contribution sums
    are order-INDEPENDENT and the whole iteration is bit-identical on
    any engine at any parallelism. This is what lets PageRank join the
    exact-hash oracle gate instead of the rows-only lane: a DuckDB
    chained-CTE twin replays the identical integer recurrence.

    Recurrence (damping 85/100 in exact rationals):
      contrib(v) = Σ_{u→v} (r(u)·85) div (100·outdeg(u))
      r'(v)      = (scale·15) div (100·n) + (m·85) div (100·n) + contrib(v)
    with m = Σ ranks of dangling nodes. Truncation loses ≤1 unit per
    term (≤1e-12 of mass) — irrelevant for ranking, and exactly the
    same loss on every engine. Same join/groupBy/localCheckpoint loop
    shape and 100 TB posture as ``pagerank``; max intermediate is
    rank·85 ≤ 8.5e13, far inside int64.

    ``loop_shuffle_partitions``: when the caller knows the node set is
    dimension-scale (this operator's ``broadcast_ranks`` use case), the
    loop's per-round shuffles carry node-grain state and should be
    sized to it, not to the fact-scale session default — edges and
    degrees are materialized at session parallelism BEFORE the scope
    narrows, so only the small loop tables are affected. The fixed-point
    arithmetic is partition-count-independent, so results are
    bit-identical either way (the oracle proves it)."""
    # The static out-degree is folded onto the edge table once (see
    # ``pagerank``): the loop's per-round contribution plan is one
    # broadcast probe over the cached edges instead of two joins —
    # measured 7.4 s -> 4.5 s over 6 rounds at sf0.1.
    with _edge_caches(edges, src_col, dst_col) as (nodes, out_deg, ef):
        n = nodes.count()
        # In-edge coverage short-circuit (guide §2.4 — remove a
        # per-round shuffle): when EVERY node has an in-edge (symmetric
        # graphs always qualify: any node appears as both src and dst),
        # the per-destination contribution aggregate already emits one row
        # per node, so the nodes-frame left-outer join that backfills
        # contribution-less nodes is dead weight — its only effect is
        # coalesce(NULL, 0) on rows that cannot exist. One node-grain
        # distinct count over the cached edges decides it up front;
        # results are bit-identical (the oracle proves it).
        # Dangling-node short-circuit (don't compute what you can prove is
        # zero): when EVERY node has an out-edge (symmetric graphs —
        # co-occurrence, similarity — always qualify), the dangling mass m
        # is identically 0 in every round, so the per-round anti-join +
        # aggregate + 1-row broadcast subtree is dead weight. One
        # node-grain anti-join count over the two cached frames decides it
        # up front; the m ≡ 0 arithmetic is exactly the recurrence's
        # (0·85) div (100·n) = 0 term, so results are bit-identical
        # (oracle-proved).
        # Both probes read only the now-populated caches and are
        # independent — submitted concurrently so the second back-fills
        # the first's task tail.
        n_covered, n_dangling = par_jobs(
            lambda: ef.select("dst").distinct().count(),
            lambda: nodes.join(
                out_deg, nodes.node == out_deg.src, "left_anti"
            ).count(),
        )
        full_coverage = n_covered == n
        base = (scale * 15) // (100 * n)

        # When the caller pins the loop's shuffle grain it has declared the
        # round plans fully known — ``scoped_loop`` also freezes them
        # (measured at sf0.1: 36 jobs / 4.3-7.0 s with AQE vs 16 jobs /
        # 3.5-3.9 s static, bit-identical ranks). The eager final
        # checkpoint makes the whole chain EXECUTE inside this scope; a
        # lazy chain would materialize at the caller's action, outside it.
        # The rank-init checkpoint is LAZY: it materializes inside the
        # final eager chain job (in-scope, caches alive) — the former
        # eager form paid one extra driver-scheduled job for a node-grain
        # projection
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("long").alias("rank")
        ).localCheckpoint(eager=False)

        with scoped_loop(edges.sparkSession, loop_shuffle_partitions):
            for it in range(iters):
                rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
                contribs = (
                    ef.join(rank_side, ef.src == rank_side.node)
                    .select(
                        "dst",
                        F.expr("(rank * 85) div (100 * out_deg)").alias("c"),
                    )
                    .groupBy("dst")
                    .agg(F.sum("c").cast("long").alias("contrib"))
                )
                if full_coverage:
                    # contribs has exactly one row per node — rename in
                    # place instead of joining the nodes frame (the
                    # coalesce(contrib, 0) backfill can never fire)
                    new_ranks = contribs.select(
                        F.col("dst").alias("node"), "contrib"
                    )
                else:
                    new_ranks = nodes.join(
                        contribs, nodes.node == contribs.dst, "left_outer"
                    ).select("node", "contrib")
                if n_dangling:
                    dangling = ranks.join(
                        out_deg, ranks.node == out_deg.src, "left_anti"
                    ).agg(
                        F.coalesce(F.sum("rank"), F.lit(0))
                        .cast("long")
                        .alias("m")
                    )
                    ranks = new_ranks.crossJoin(F.broadcast(dangling)).select(
                        "node",
                        (
                            F.lit(base)
                            + F.expr(f"(m * 85) div (100 * {n})")
                            + F.coalesce(F.col("contrib"), F.lit(0))
                        )
                        .cast("long")
                        .alias("rank"),
                    )
                else:
                    ranks = new_ranks.select(
                        "node",
                        (
                            F.lit(base)
                            + F.coalesce(F.col("contrib"), F.lit(0))
                        )
                        .cast("long")
                        .alias("rank"),
                    )
                # checkpoint cadence: the plan DOUBLES per un-checkpointed
                # round (ranks is referenced twice: contrib join +
                # dangling-mass aggregate), so larger cadences trade a few
                # cheap node-grain jobs for exponential plan growth and
                # re-analysis cost. Measured at sf0.1 (part_pagerank):
                # cadence 1 = 7.2 s, 2 = 11.9 s, 3 = 17.0 s — keep the
                # default 1 unless a profile says otherwise. Values are
                # identical either way — the fixed-point arithmetic
                # doesn't see the plan. Intermediate checkpoints are LAZY
                # (the cluster-loop/BPE-train trick, guide §5): lineage
                # still truncates at every checkpoint node and
                # materialization happens inside the consuming job. The
                # FINAL iteration's checkpoint is EAGER: no action runs
                # inside this loop (F.broadcast is a hint, not a job), so
                # the whole round chain materializes inside the cache scope.
                if (it + 1) % checkpoint_every == 0 or it == iters - 1:
                    ranks = ranks.localCheckpoint(eager=(it == iters - 1))
        return ranks


# Effective ephemeral bytes per wedge row across the wedge exchange +
# closing-join shuffle, calibrated on the SCALE.md r11 sf10 runs: ~1e9
# oriented wedges at 60M edges needed ≳100 GB of local scratch (died
# ENOSPC at 78 GB free), i.e. ~100 B/row once both shuffle writes and
# sort spill are counted. 96 keeps the estimate on the refusing side
# of that measurement without being silly at small scale.
_WEDGE_ROW_BYTES = 96


def _local_scratch_free_bytes(spark) -> int:
    """Usable bytes of executor-local shuffle scratch, for guard pricing.

    Resolution order:

    1. ``spark.dmt.scratchBytesPerExecutor`` (conf) — a declared
       per-executor scratch capacity. On a REAL cluster set this:
       the filesystem probe below reads the DRIVER's local dirs,
       which generally differ from the executors' volumes, so an
       unconfigured cluster deployment could falsely refuse or
       falsely allow (ADVICE r12). The conf short-circuits the probe
       entirely.
    2. Filesystem probe (local-mode-only semantics): reads the same
       directories Spark's DiskBlockManager writes to —
       ``spark.local.dir`` / ``SPARK_LOCAL_DIRS`` if set, else the
       JVM's ``java.io.tmpdir``. Multiple dirs report the MINIMUM
       (shuffle files round-robin across them; the fullest volume is
       the one that throws ENOSPC first). In ``local[*]`` mode the
       driver IS the executor, so this is exactly the resource the
       shuffle write fails on.
    """
    import os

    declared = spark.conf.get("spark.dmt.scratchBytesPerExecutor", None)
    if declared is not None:
        return int(declared)
    jvm = spark._jvm
    dirs = (
        spark.conf.get("spark.local.dir", None)
        or os.environ.get("SPARK_LOCAL_DIRS")
        or jvm.java.lang.System.getProperty("java.io.tmpdir")
        or "/tmp"
    )
    frees = []
    for d in str(dirs).split(","):
        d = d.strip()
        if d:
            frees.append(int(jvm.java.io.File(d).getUsableSpace()))
    return min(frees) if frees else 0


def _exact_wedge_rows(oriented: DataFrame) -> int:
    """Exact oriented wedge count Σ_x C(dout(x), 2), one O(E) pass.

    Integer division (``div``, not float ``/``) so the sum stays
    exact above 2^53 wedges (ADVICE r12); counts are longs, and the
    per-node term d·(d−1) div 2 cannot overflow for any real node
    degree."""
    return int(
        oriented.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.expr("sum(d * (d - 1) div 2)").alias("w"))
        .first()["w"]
        or 0
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_spill_bytes: int | str | None = "auto",
    disk_headroom: float = 0.8,
    audit=None,
) -> DataFrame:
    """Exact triangle count of the undirected graph.

    Degree-ordered orientation (each undirected edge directed from its
    lower-(degree, id) endpoint) before the wedge join — the standard
    trick that bounds per-node out-degree by O(√|E|), so the wedge
    intermediate follows arboricity instead of hub-degree², which is
    what makes exact triangle counting survive power-law graphs at
    100 TB. Two joins + one count; every key is a node id.

    **Disk-pricing guard (r12).** The wedge exchange is
    arboricity-bounded but still the one intermediate that can exceed
    the input by orders of magnitude (SCALE.md r11: ~10⁹ wedges from
    60M edges, ≳100 GB ephemeral — the sf10 run died ENOSPC twice with
    no guard row while every other super-budget lane refuses loudly).
    With ``max_spill_bytes="auto"`` the operator prices the wedge
    volume BEFORE launching it. The cap is resolved first —
    ``disk_headroom`` × the available scratch
    (``spark.dmt.scratchBytesPerExecutor`` if declared — set it on a
    real cluster — else the local-volume probe, which therefore runs
    on every auto-guarded call; it is one conf read or one JVM
    ``getUsableSpace`` call, not a Spark job). Then a provable check
    from the node-grain degree frame the orientation already needs:
    under degree-ordered orientation dout(x) ≤ min(deg(x),
    2E div deg(x)) (the handshake bound), so
    Σ_x C(min(deg(x), 2E div deg(x)), 2) upper-bounds the wedge count
    via one tiny aggregate — if even that fits under the cap, the
    exact pricing pass is skipped (the common small-graph path; r13,
    ADVICE r12). Otherwise one out-degree aggregate over the (already
    persisted) oriented edges computes the exact wedge count
    Σ_x C(dout(x), 2) in integer arithmetic, converts to bytes at the
    measured ``_WEDGE_ROW_BYTES``, and refuses loudly — with a
    ``dmt_guard_events`` row when ``audit`` is passed — if that
    exceeds the cap. The bound is never used to refuse, only to skip.
    An ``int`` gives a static byte cap; ``None`` disables the guard.
    The exact aggregate reuses the cached oriented frame, so
    pricing costs at most one O(E) pass, never a shuffle of wedges.

    **API note:** the default changed from unguarded to
    ``max_spill_bytes="auto"`` — on a nearly-full scratch volume a
    small job that previously ran may now refuse with a RuntimeError;
    pass ``max_spill_bytes=None`` to restore the old behavior, or an
    ``int`` / the conf knob to price against a declared capacity.

    Returns one row: (n_nodes, n_edges, n_triangles) — all integers,
    so the result is exact-oracle comparable."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    # node-grain and read three times (du, dv, the guard's bound
    # aggregate, the final n_nodes count) — caching makes the one
    # edge-grain degree shuffle happen once
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    # the 1-row census is materialized inside the scope: the pricing
    # pass populates the edge-scale caches unconditionally
    with cached(und, deg, oriented):
        if max_spill_bytes is not None:
            if max_spill_bytes == "auto":
                free = _local_scratch_free_bytes(edges.sparkSession)
                cap = int(free * disk_headroom)
                why = (
                    f"{disk_headroom:.0%} of {free:,} B free local shuffle "
                    f"scratch"
                )
            else:
                cap = int(max_spill_bytes)
                why = f"max_spill_bytes={cap:,}"
            # Provable short-circuit: under degree-ordered
            # orientation, dout(x) ≤ deg(x) trivially, and dout(x) ≤
            # #{v: (deg(v), v) ≥ (deg(x), x)} ≤ 2E/deg(x) (the handshake
            # bound — at most 2E/d nodes can have degree ≥ d). So
            # Σ_x C(min(deg(x), 2E div deg(x)), 2) upper-bounds the wedge
            # count, computable from the CACHED node-grain degree frame
            # the orientation needs anyway — one tiny aggregate over
            # |nodes| rows, vs the exact pricing's edge-grain groupBy. If
            # even this bound fits under the cap, the exact count can only
            # be smaller and the pricing pass is skipped (the common path:
            # for a graph with average degree d̄ the bound is ~Σ C(deg,2),
            # within a small factor of exact, where the old coarse
            # E·√(2E)/2 overshot by √(2E)/d̄). The bound is NEVER used to
            # refuse — only to skip. Integer arithmetic throughout (div,
            # not /): exact past 2^53.
            n_edges_early = und.count()  # materializes the reused cache
            bound_rows = int(
                deg.agg(
                    F.expr(
                        f"sum(least(deg, {2 * n_edges_early} div deg) "
                        f"* (least(deg, {2 * n_edges_early} div deg) - 1) "
                        f"div 2)"
                    ).alias("w")
                ).first()["w"]
                or 0
            )
            if bound_rows * _WEDGE_ROW_BYTES <= cap:
                wedge_rows = None  # provably under cap; exact count unneeded
                implied_bytes = 0
            else:
                wedge_rows = _exact_wedge_rows(oriented)
                implied_bytes = wedge_rows * _WEDGE_ROW_BYTES
            if implied_bytes > cap:
                if audit is not None:
                    from data_migration_tool_spark.audit.log import guard_event

                    guard_event(
                        audit,
                        guard="triangle_count",
                        action="refuse",
                        subject=f"{src_col}/{dst_col} wedge exchange",
                        implied_cost=int(implied_bytes),
                        cap=int(cap),
                        detail=f"refused: {wedge_rows:,} oriented wedges × "
                        f"{_WEDGE_ROW_BYTES} B/row exceeds {why} — the wedge "
                        f"shuffle would die ENOSPC mid-stage instead",
                    )
                raise RuntimeError(
                    f"triangle_count: the wedge exchange would spill "
                    f"~{implied_bytes:,} B ({wedge_rows:,} wedges × "
                    f"{_WEDGE_ROW_BYTES} B/row) > {why}. Free local scratch, "
                    f"run where per-executor scratch is larger, pass a higher "
                    f"max_spill_bytes, or max_spill_bytes=None to opt into "
                    f"the unpriced shuffle."
                )
        # Wedge generation stays the e1 ⋈ e2 self-join (two alternatives
        # were MEASURED and rejected — (a) groupBy(a) + collect_set +
        # in-row posexplode/slice pair expansion (the edge-derivation
        # trick) lost to the self-join here because both self-join sides
        # are the SAME projection of the cached
        # oriented frame, so Spark plans a ReusedExchange and the join is
        # pure codegen over one shuffle, while the adjacency form pays an
        # ObjectHashAggregate + array materialization + double Generate
        # (interleaved mins 4.5-4.9 s self-join vs 5.1-6.2 s adjacency at
        # sf0.1); (b) broadcasting the closing edge list (~900k rows at
        # sf0.1) serialized a 30-60 MB relation build onto the driver per
        # run — 6.2-8.4 s vs 5.1-6.2 s shuffled. Keep the planner's
        # shuffle join; the disk-pricing guard above prices exactly this
        # plan.
        e1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y1"))
        e2 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y2"))
        wedges = e1.join(e2, "x").filter(F.col("y1") < F.col("y2"))
        # close the wedge with an edge between y1,y2 — und IS that edge set
        # in (lo, hi) form already (the former least/greatest projection
        # over oriented recomputed what the cached und holds)
        closing = und.select(
            F.col("u").alias("y1"), F.col("v").alias("y2"), F.lit(1).alias("hit")
        )
        n_edges_known = (
            n_edges_early if max_spill_bytes is not None else None
        )
        tri = wedges.join(closing, ["y1", "y2"]).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
        if n_edges_known is not None:
            # census scalars as driver literals (both counts already ran
            # for the guard) — the final job is the wedge count alone,
            # not three crossJoined aggregates
            n_nodes_known = deg.count()
            out = tri.select(
                F.lit(n_nodes_known).cast("long").alias("n_nodes"),
                F.lit(n_edges_known).cast("long").alias("n_edges"),
                "n_triangles",
            )
        else:
            stats = und.agg(
                F.count(F.lit(1)).alias("n_edges"),
            ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
            out = stats.crossJoin(tri).select(
                "n_nodes", "n_edges", "n_triangles"
            )
        return out.localCheckpoint(eager=True)
