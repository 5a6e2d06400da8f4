#!/usr/bin/env python
"""Dump .explain("formatted") for named registry queries to files.

Usage: python tools/dump_plan.py OUTDIR SUFFIX q1 [q2 ...]
Writes OUTDIR/<query>_<SUFFIX>.txt. Streaming-on-build queries (which
execute side effects when built) are skipped unless --force.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    from data_migration_tool_spark.plans.registry import QUERIES
    from data_migration_tool_spark.session import get_spark

    spark = get_spark(app_name="dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    jexplain = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    for name in names:
        df = QUERIES[name].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(jexplain("formatted"))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
