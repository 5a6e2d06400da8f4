#!/usr/bin/env python
"""Isolated per-query timing loop (guide §1: measure first, isolate).

Times the named registry queries with the bench's own methodology
(builder + .count() after a sf0.001 warm pass) N times each and prints
per-run seconds + min — the number comparable to BENCH.json's
best-of-2 min. Run on an idle box; check `pgrep java` first.

Usage: python tools/time_query.py q1 [q2 ...] [--n 3] [--sf DIR]
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from data_migration_tool_spark.plans.registry import QUERIES
    from data_migration_tool_spark.session import get_spark

    spark = get_spark(app_name="time-query")
    spark.sparkContext.setLogLevel("ERROR")

    for name in args.queries:
        if name not in QUERIES:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        qdef = QUERIES[name]
        try:
            qdef.builder(spark, args.warm).count()  # codegen/JIT warm
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: warmup failed: {exc}", flush=True)
        runs = []
        for _ in range(args.n):
            gc.collect()
            t0 = time.time()
            qdef.builder(spark, args.sf).count()
            runs.append(round(time.time() - t0, 3))
        print(
            f"{name}: min={min(runs):.3f}  runs={runs}",
            flush=True,
        )


if __name__ == "__main__":
    main()
