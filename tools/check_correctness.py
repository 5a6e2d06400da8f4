#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
values canonically stringified). Exact string equality of values is the
bar — the engine's aggregate patterns are designed to be bit-identical
across engines, so no tolerance is applied.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_migration_tool_spark.session import get_spark  # noqa: E402
from data_migration_tool_spark.tables import TPCH_TABLES, table_path  # noqa: E402


def oracle_type_problems(rel) -> list[str]:
    """Column types that the driver's pandas canonicalization mangles.

    The official gate fetches DuckDB results via pandas, where HUGEINT
    (DuckDB's result type for SUM(integer), grouped or windowed)
    silently becomes float64 (``10`` -> ``10.0`` -> hash mismatch),
    list/struct columns crash ``sort_values`` (unhashable), and DECIMAL
    survives as decimal.Decimal objects that the driver stringifies
    differently from Spark's decimal rendering (cost r5 four official
    reds — all four window reds emitted a raw DECIMAL output).  House
    rule: every final DECIMAL projection is cast to DOUBLE, routed
    through VARCHAR on the DuckDB side so both engines round once."""
    out = []
    for c, t in zip(rel.columns, rel.types):
        ts = str(t).upper()
        if (
            "HUGEINT" in ts
            or "DECIMAL" in ts
            or ts.endswith("]")
            or ts.startswith(("STRUCT", "MAP", "UNION"))
        ):
            out.append(f"{c}:{ts}")
    return out


def oracle_rows_via_pandas(rel, otypes: list[str]) -> list[tuple]:
    """Fetch oracle rows the way the official driver does: through
    ``rel.df()`` (pandas), NOT ``fetchall()``.

    r4 and r5 both shipped queries that passed a fetchall()-based local
    twin and failed the driver, because pandas re-types DuckDB results
    (HUGEINT -> float64, DATE -> datetime64[ns], NULL -> NaN/NaT).
    Replicating the pandas hop here makes those divergences visible
    locally.  DATE columns are mapped back from midnight Timestamps to
    dates (the driver's compare is date-aware); NaN/NaT become NULL."""
    import pandas as pd  # noqa: PLC0415

    pdf = rel.df()
    for c, ts in zip(pdf.columns, otypes):
        if ts == "DATE" and pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].dt.date
    obj = pdf.astype(object)
    obj = obj.where(pd.notna(obj), None)
    return list(obj.itertuples(index=False, name=None))


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent

    qs = ent.queries()
    if only == {"--priority"}:
        # preflight exactly the driver's official window: the first 50
        # registry entries in iteration order
        only = set(list(qs)[:50])
    oracles = ent.oracle_sql()

    spark = get_spark(app_name="dmt-check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )

    results = {}
    n_fail = 0
    for name, builder in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = builder(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:300]}
            n_fail += 1
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            results[name] = {
                "status": "ROWS_ONLY",
                "rows": len(srows),
                "spark_s": round(spark_s, 2),
            }
            print(f"rows {name}: {len(srows)} rows (no oracle) {spark_s:.1f}s")
            continue
        try:
            rel = con.sql(oracles[name])
            problems = oracle_type_problems(rel)
            if problems:
                results[name] = {
                    "status": "ORACLE_TYPE",
                    "error": f"driver-unsafe oracle types: {problems}",
                }
                n_fail += 1
                print(f"FAIL {name}: driver-unsafe oracle types {problems}")
                continue
            ocols = [c.lower() for c in rel.columns]
            otypes = [str(t).upper() for t in rel.types]
            orows = oracle_rows_via_pandas(rel, otypes)
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:300]}
            n_fail += 1
            print(f"FAIL {name}: oracle error {str(e)[:200]}")
            continue
        sh, sn = table_digest([c.lower() for c in scols], srows)
        oh, on = table_digest(ocols, orows)
        cols_ok = sorted(c.lower() for c in scols) == sorted(ocols)
        ok = cols_ok and sh == oh and sn == on
        results[name] = {
            "status": "PASS" if ok else "FAIL",
            "rows": sn,
            "oracle_rows": on,
            "cols_ok": cols_ok,
            "hash_ok": sh == oh,
            "spark_s": round(spark_s, 2),
        }
        if not ok:
            n_fail += 1
            print(f"FAIL {name}: rows {sn}/{on} cols_ok={cols_ok} hash_ok={sh == oh}")
            if cols_ok and sn == on:
                # show first differing row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i].lower())
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sl = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in srows)
                ol = sorted("\x1f".join(canon(r[i]) for i in order_o) for r in orows)
                for a, b in zip(sl, ol):
                    if a != b:
                        print(f"  spark : {a[:220]}")
                        print(f"  oracle: {b[:220]}")
                        break
        else:
            print(f"PASS {name}: {sn} rows {spark_s:.1f}s")

    print(json.dumps({"sf_dir": sf_dir, "fail": n_fail, "results": results}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
