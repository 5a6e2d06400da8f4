#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of every registry query.

For each query (built at sf0.001 — plan shape, not data), reports:
exchange count, join strategies, whether scan pushdown fired, Python
node kind (none / Arrow-batched / row-at-a-time), and whole-stage
codegen span count. This is the ``.explain("formatted")`` dev loop
flattened into a reviewable table — regressions in any column are
scale regressions.

Streaming queries (which execute on build) are summarized from their
logical description instead of being run.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_migration_tool_spark.session import get_spark  # noqa: E402
from data_migration_tool_spark.plans.registry import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SKIP_EXEC = {
    "events_stream_daily_counts",
    "events_stream_sessions",
    "events_stream_segment_revenue",
    "events_stream_user_quota",
    "events_stream_view_purchase_join",
    "events_stream_view_purchase_left",
    "events_stream_dedup",
    "orders_stream_join_ivm",
    "orders_stream_rollup_ivm",
}


def suspect_banner(bench_path: str) -> str:
    """One loud line when the recorded BENCH.json carries a non-empty
    ``suspect`` list (bench.py's self-acting canary could not obtain a
    clean-segment sample for those queries) — the artifact contract
    that the canary's output is never silently ignored downstream.
    Empty string when the artifact is clean or absent."""
    import json

    try:
        with open(bench_path) as fh:
            payload = json.load(fh)
    except (OSError, ValueError):
        return ""
    suspect = payload.get("suspect") or []
    if not suspect:
        return ""
    return (
        f"**⚠ {len(suspect)} BENCH timing(s) suspect** "
        f"(contention-inflated, see BENCH.json `canary`): "
        + ", ".join(f"`{s}`" for s in sorted(suspect))
        + "\n\n"
    )


def main() -> None:
    spark = get_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    jexplain = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString

    rows = []
    for name, qdef in QUERIES.items():
        if name in SKIP_EXEC:
            rows.append((name, "—", "streaming (file source → state/window → sink)", "—", "—", "—"))
            continue
        df = qdef.builder(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.explainString(jexplain("formatted"))
        simple = qe.explainString(jexplain("simple"))
        # unique operator ids, not text occurrences: persisted
        # (InMemoryRelation) branches repeat their cached-plan text at
        # every reuse site, inflating a raw substring count ~8x
        n_ex = len(set(re.findall(r"\((\d+)\)\s+Exchange", plan)))
        joins = sorted(
            {m for m in re.findall(r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|CartesianProduct|ShuffledHashJoin)", simple)}
        )
        pushed = "yes" if re.search(r"PushedFilters: \[.*\w", plan) else "—"
        if "BatchEvalPython" in plan:
            py = "ROW-AT-A-TIME"  # should never appear — test_plans forbids it
        elif any(
            k in plan
            for k in ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")
        ):
            py = "Arrow"
        elif "Python" in plan:
            py = "local-rows"  # driver-built metadata relation, not an eval node
        else:
            py = "none"
        n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        rows.append((name, str(n_ex), ",".join(j.replace("Join", "") for j in joins) or "—", pushed, py, str(n_wsc)))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of the query registry\n\n"
            + suspect_banner(os.path.join(REPO, "BENCH.json"))
            + f"Generated by `tools/plan_report.py` at sf0.001 ({len(rows)} queries).\n"
            "Columns: shuffle exchanges in the plan; join strategies Catalyst\n"
            "chose; whether parquet scan pushdown fired; Python node kind\n"
            "(Arrow-batched kernels are the only sanctioned Python); distinct\n"
            "whole-stage-codegen spans.\n\n"
            "| query | exchanges | joins | pushdown | python | codegen spans |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
        f.write(ADJUDICATIONS)
    print(f"wrote PLANS.md ({len(rows)} queries)")


# Hand-maintained: survives regeneration because it lives in the
# generator. One entry per bench regression that was profiled and
# deliberately KEPT (VERDICT r10 #3's contract: back under 1.3×, or
# one recorded sentence naming the cost).
ADJUDICATIONS = """
## Adjudicated bench deltas (profiled, kept deliberately)

- `media_audio_frames` 0.67→1.02 s, `media_feature_extract`
  0.79→1.19 s (r9→r10 at sf0.1): the cost is the r10
  `spread_for_cpu` exchange — one extra shuffle of the DISTINCT blobs
  that pins codec parallelism past AQE's byte-based coalescing. On
  these already-small lanes it adds ~0.3 s of exchange+scheduling; on
  the heavy codec lanes the same exchange bought 4-6× (`media_png_decode`
  3.17→1.32 s). Making the spread conditional on blob count would
  need a count action (its own job) and would silently serialize the
  lane again the day the corpus grows — the fixed cost is the honest
  price of scale-correct parallelism, kept.
- `knn_brute_force` 0.62→1.06 s (r9→r10 at sf0.1): `similarity.py`
  and the query are byte-identical since r8 (`git diff 3d4f40c` is
  empty); standalone warm runs on an idle box span 0.85-1.1 s. The
  delta is bench-context (189-query session: JVM/GC state by the time
  the query runs), not plan or operator change — no action. (r11
  record: 0.55 s — the same code now measures FASTER than the r9
  number, confirming run-to-run spread.)
"""


if __name__ == "__main__":
    main()
