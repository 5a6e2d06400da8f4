from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent
from conftest import SF_DIR


def test_entry_smoke(spark):
    df = ent.entry(spark)
    assert df.count() > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_aligned():
    qs = ent.queries()
    os_ = ent.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 14


def test_all_queries_run_sf0001(spark):
    """Every lane runs at sf0.001, and every oracle-backed lane matches
    its DuckDB oracle on rows, columns and the order-insensitive digest:
    the gate of ``tools/check_correctness.py``, through its own
    ``table_digest`` and ``oracle_rows_via_pandas``.

    No lane leaves a DataFrame cache behind: after each lane's
    ``builder()`` and ``collect()``, raised or not, Spark's cache
    manager is empty. A leak is recorded and cleared, so one leak cannot
    hide the next."""
    import duckdb

    from data_migration_tool_spark.tables import TPCH_TABLES, table_path
    from tools.check_correctness import oracle_rows_via_pandas, table_digest

    oracles = ent.oracle_sql()
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    bad = []
    for name, builder in ent.queries().items():
        try:
            df = builder(spark, SF_DIR)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            bad.append((name, f"spark error: {str(exc)[:200]}"))
            continue
        finally:
            if not cache.isEmpty():
                bad.append((name, "left a DataFrame cache behind"))
                spark.catalog.clearCache()
        if name not in oracles:
            continue
        rel = con.sql(oracles[name])
        ocols = [c.lower() for c in rel.columns]
        orows = oracle_rows_via_pandas(rel, [str(t).upper() for t in rel.types])
        if sorted(cols) != sorted(ocols):
            bad.append((name, f"columns {sorted(cols)} != {sorted(ocols)}"))
        elif table_digest(cols, rows) != table_digest(ocols, orows):
            bad.append((name, f"rows/digest: {len(rows)} vs oracle {len(orows)}"))
    assert not bad, bad


def test_every_oracle_parses_in_duckdb():
    """Meta-gate: every registered oracle must at least EXPLAIN against
    the real table schemas — catches SQL typos/engine-dialect breakage
    without paying for execution."""
    import duckdb

    from data_migration_tool_spark.plans.registry import QUERIES
    from data_migration_tool_spark.tables import TPCH_TABLES, table_path

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{table_path('/root/testdata/sf0.001', t)}'"
        )
    bad = []
    for name, qd in QUERIES.items():
        if qd.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {qd.oracle}")
        except Exception as exc:  # noqa: BLE001
            bad.append((name, str(exc)[:120]))
    assert not bad, bad


def test_no_oracle_projects_driver_unsafe_types():
    """Meta-gate: no oracle's OUTPUT columns may bind to HUGEINT,
    DECIMAL, or a nested type. The official driver canonicalizes DuckDB
    results through pandas, where HUGEINT (DuckDB's SUM(integer) result
    type, grouped or windowed) silently becomes float64 (``10`` ->
    ``10.0`` -> value-hash mismatch vs Spark's bigint), list/struct
    columns crash pandas ``sort_values``, and DECIMAL survives as
    Decimal objects the driver stringifies differently from Spark's
    decimal rendering. HUGEINT/nested cost 6 official reds in round 4;
    DECIMAL cost 4 in round 5 — binding is cheap, so assert it on
    every oracle. House fix: cast final decimals to DOUBLE, VARCHAR-
    routed on the DuckDB side so both engines round once."""
    import duckdb

    from data_migration_tool_spark.plans.registry import QUERIES
    from data_migration_tool_spark.tables import TPCH_TABLES, table_path

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{table_path('/root/testdata/sf0.001', t)}'"
        )
    bad = []
    for name, qd in QUERIES.items():
        if qd.oracle is None:
            continue
        try:
            rel = con.sql(qd.oracle)
            for c, t in zip(rel.columns, rel.types):
                ts = str(t).upper()
                if (
                    "HUGEINT" in ts
                    or "DECIMAL" in ts
                    or ts.endswith("]")
                    or ts.startswith(("STRUCT", "MAP", "UNION"))
                ):
                    bad.append((name, f"{c}:{ts}"))
        except Exception:  # noqa: BLE001
            continue  # parse failures are test_every_oracle_parses_in_duckdb's job
    assert not bad, bad


def test_official_coverage_invariant():
    """Machine-check of COVERAGE.md's coverage claim (the round-6 lesson:
    the hand-written claim was wrong for 2 queries; the round-7 lesson:
    a hand-kept pending list goes stale the moment an artifact lands).
    The pending set is DERIVED — oracle-backed registry queries minus
    everything with a row in some CORRECTNESS_r*.json artifact — and
    the invariant asserts only what artifacts can't prove: every
    pending query must hold a scored window slot (first 50 registry
    entries) so the NEXT driver run produces its row. Self-clearing:
    when the new artifact lands, the derived set shrinks to empty with
    no bookkeeping commit."""
    import glob
    import json
    import os

    from data_migration_tool_spark.plans.registry import _PRIORITY, QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    assert artifacts, "no CORRECTNESS artifacts found next to the repo root"
    seen: set[str] = set()
    for f in artifacts:
        with open(f) as fh:
            seen |= set(json.load(fh))

    oracle_backed = {n for n, d in QUERIES.items() if d.oracle is not None}
    pending = oracle_backed - seen
    window = set(list(QUERIES)[:50])
    unslotted = pending - window
    assert not unslotted, (
        f"oracle-backed queries with no official row yet and no scored "
        f"window slot (they can never gain one): {sorted(unslotted)}"
    )

    # window hygiene: exactly 50 scored slots, every name real.
    # Rows-only names are a deliberate one-time exception (VERDICT r10
    # #6): embedding_pca_project holds a single seat in the r11 window
    # so its rows-only existence row lands in the artifact trail; the
    # seat returns to the hash-lane pool once that artifact exists.
    assert len(_PRIORITY) == 50 and len(set(_PRIORITY)) == 50
    missing = [n for n in _PRIORITY if n not in QUERIES]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    allowed_rows_only = {"embedding_pca_project"} - seen
    rows_only = [
        n
        for n in _PRIORITY
        if QUERIES[n].oracle is None and n not in allowed_rows_only
    ]
    assert not rows_only, f"rows-only queries holding scored slots: {rows_only}"
