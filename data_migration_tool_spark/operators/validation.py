"""Data-validation operators — the DVT-equivalent core of the engine.

Re-implements the reference's validation surface (SURVEY §2.4 A6/A7,
§2.3 J6; reference ``src/translation/dvt/main.py:40-96`` and the
24-field spec contract ``src/common_utils/storage_utils.py:12-38``)
as pure DataFrame composition:

- ``schema_validation``  — field-wise StructType compare with
  exclusion-columns and an allow-list of acceptable type pairs.
- ``column_validation``  — per-column count/sum/min/max/avg on source
  and target (optionally grouped / filtered / cast-to-bigint), joined
  on group keys, compared with a percent threshold.
- ``row_validation``     — NULL-safe row hash (or concat) keyed by
  primary keys, full-outer join, per-row match classification;
  optional seeded random-row sampling.
- ``custom_query_validation`` — user SQL on both sides, then the same
  compare machinery.

Every operator returns a DataFrame shaped like the reference's
``dmt_dvt_results`` audit table (FIXTURES.md §5) so results are both
the API return value and the audit record.

Scale: all compares are single-shuffle joins on the group/PK keys; the
aggregate side is a map-side-combined groupBy. Row validation of two
100 TB tables is a sort-merge join on the PK with both sides hashed
in-scan (no row materialization beyond pk+hash), which is the minimal
possible data movement for a full compare.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_tool_spark.functions.hashing import (
    canonical_sql,
    md5_int32,
    null_safe_concat,
    null_safe_concat_sql,
    quote_name,
)
from data_migration_tool_spark.tables import local_frame

RESULT_COLUMNS = [
    "validation_name",
    "validation_type",
    "source_table_name",
    "target_table_name",
    "source_column_name",
    "aggregation_type",
    "group_by_columns",
    "source_agg_value",
    "target_agg_value",
    "difference",
    "pct_difference",
    "pct_threshold",
    "validation_status",
]


@dataclass
class ValidationSpec:
    """Typed mirror of the 24-field validation-spec CSV row
    (reference storage_utils.py:12-38, validation_params.csv)."""

    validation_type: str = "column"  # schema | column | row | custom query
    source_table: str = ""
    target_table: str = ""
    filters: str | None = None  # SQL predicate applied to BOTH sides
    primary_keys: list[str] = field(default_factory=list)
    exclusion_columns: list[str] = field(default_factory=list)
    allow_list: str | None = None  # "srctype:tgttype,..." acceptable pairs
    count_cols: list[str] = field(default_factory=list)
    sum_cols: list[str] = field(default_factory=list)
    min_cols: list[str] = field(default_factory=list)
    max_cols: list[str] = field(default_factory=list)
    avg_cols: list[str] = field(default_factory=list)
    grouped_columns: list[str] = field(default_factory=list)
    cast_to_bigint: bool = False
    wildcard_include_string_len: bool = False
    threshold: float = 0.0  # pct difference tolerance
    hash_cols: list[str] | None = None  # None → no hash; ["*"] → all
    concat_cols: list[str] | None = None
    comparison_fields: list[str] = field(default_factory=list)
    use_random_row: bool = False
    random_row_batch_size: int = 100
    random_seed: int = 42


def _status(pct_diff: Column, threshold: Column) -> Column:
    return F.when(pct_diff <= threshold, F.lit("success")).otherwise(
        F.lit("fail")
    )


# ---------------------------------------------------------------------------
# Schema validation (dvt/main.py:40 `validate schema`)
# ---------------------------------------------------------------------------

def schema_validation(
    spark: SparkSession,
    source: DataFrame,
    target: DataFrame,
    spec: ValidationSpec | None = None,
) -> DataFrame:
    """Field-wise schema compare. Driver-side over the two StructTypes
    (schemas are metadata, never data-sized), result is a DataFrame so
    it lands in the audit table like every other validation."""
    spec = spec or ValidationSpec(validation_type="schema")
    excl = {c.lower() for c in spec.exclusion_columns}
    allowed: set[tuple[str, str]] = set()
    if spec.allow_list:
        # split on commas at paren depth 0 only — type names like
        # decimal(15,2) carry commas of their own
        pairs, depth, cur = [], 0, []
        for ch in spec.allow_list:
            if ch == "," and depth == 0:
                pairs.append("".join(cur))
                cur = []
                continue
            depth += ch == "("
            depth -= ch == ")"
            cur.append(ch)
        pairs.append("".join(cur))
        for pair in pairs:
            s, _, t = pair.partition(":")
            if s.strip():
                allowed.add((s.strip().lower(), t.strip().lower()))

    src = {f.name.lower(): f.dataType.simpleString() for f in source.schema.fields}
    tgt = {f.name.lower(): f.dataType.simpleString() for f in target.schema.fields}
    rows = []
    for name in sorted(set(src) | set(tgt)):
        if name in excl:
            continue
        s_t, t_t = src.get(name), tgt.get(name)
        if s_t is None or t_t is None:
            status = "fail"
        elif s_t == t_t or (s_t, t_t) in allowed:
            status = "success"
        else:
            status = "fail"
        rows.append(
            (
                f"schema:{name}",
                "schema",
                spec.source_table,
                spec.target_table,
                name,
                "schema_match",
                None,
                s_t,
                t_t,
                None,
                None,
                0.0,
                status,
            )
        )
    schema = T.StructType(
        [
            T.StructField("validation_name", T.StringType()),
            T.StructField("validation_type", T.StringType()),
            T.StructField("source_table_name", T.StringType()),
            T.StructField("target_table_name", T.StringType()),
            T.StructField("source_column_name", T.StringType()),
            T.StructField("aggregation_type", T.StringType()),
            T.StructField("group_by_columns", T.StringType()),
            T.StructField("source_agg_value", T.StringType()),
            T.StructField("target_agg_value", T.StringType()),
            T.StructField("difference", T.DoubleType()),
            T.StructField("pct_difference", T.DoubleType()),
            T.StructField("pct_threshold", T.DoubleType()),
            T.StructField("validation_status", T.StringType()),
        ]
    )
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Column validation (dvt/main.py:63-75 `validate column`)
# ---------------------------------------------------------------------------

def _agg_exprs(
    df: DataFrame, spec: ValidationSpec, name=None
) -> list[tuple[str, str, Column]]:
    """(agg_type, column, expr) triples for one side.

    Numeric double columns aggregate through the exact-decimal pattern
    (see functions.scalars) so source/target compare is bit-stable under
    any partitioning — the engine-level fix for the reference's
    ``--cast-to-bigint`` band-aid.

    ``name``: optional logical→physical column mapper — the fused
    single-scan path (``column_validation_inflight``) materializes both
    sides' measure columns in ONE frame under prefixed names, so the
    same spec builds both agg lists against it.
    """
    name = name or (lambda c: c)
    dtypes = dict(df.dtypes)

    def _num(c: str) -> Column:
        col = F.col(name(c))
        if spec.cast_to_bigint:
            return col.cast("bigint")
        if dtypes.get(name(c)) in ("double", "float"):
            return col.cast("decimal(30,6)")
        return col

    out: list[tuple[str, str, Column]] = []
    for c in spec.count_cols:
        out.append(
            ("count", c, F.count(F.lit(1)) if c == "*" else F.count(name(c)))
        )
    for c in spec.sum_cols:
        out.append(("sum", c, F.sum(_num(c)).cast("double")))
    for c in spec.min_cols:
        out.append(("min", c, F.min(F.col(name(c))).cast("double")))
    for c in spec.max_cols:
        out.append(("max", c, F.max(F.col(name(c))).cast("double")))
    for c in spec.avg_cols:
        out.append(
            (
                "avg",
                c,
                (
                    F.sum(_num(c)).cast("double")
                    / F.count(name(c)).cast("double")
                ),
            )
        )
    if not out:
        out.append(("count", "*", F.count(F.lit(1))))
    return out


def _column_result_rows(
    frame: DataFrame,
    aggs: list[tuple[str, str, Column]],
    names: list[str],
    sv_of,
    tv_of,
    group_json: Column,
    spec: ValidationSpec,
) -> DataFrame:
    """Unpivot one row per (aggregate, column, group) — the shared tail
    of both column-validation paths."""
    per_agg = []
    for (atype, col, _), n in zip(aggs, names):
        sv = sv_of(n).cast("double")
        tv = tv_of(n).cast("double")
        diff = tv - sv
        pct = F.when(
            sv.isNotNull() & (sv != 0), F.abs(diff) / F.abs(sv) * 100.0
        ).otherwise(
            F.when(sv.eqNullSafe(tv), F.lit(0.0)).otherwise(F.lit(float("inf")))
        )
        per_agg.append(
            F.struct(
                F.lit(f"{atype}:{col}").alias("validation_name"),
                F.lit("column").alias("validation_type"),
                F.lit(spec.source_table).alias("source_table_name"),
                F.lit(spec.target_table).alias("target_table_name"),
                F.lit(col).alias("source_column_name"),
                F.lit(atype).alias("aggregation_type"),
                group_json.alias("group_by_columns"),
                sv.cast("string").alias("source_agg_value"),
                tv.cast("string").alias("target_agg_value"),
                diff.alias("difference"),
                pct.alias("pct_difference"),
                F.lit(spec.threshold).alias("pct_threshold"),
                _status(pct, F.lit(spec.threshold)).alias("validation_status"),
            )
        )
    return frame.select(F.explode(F.array(*per_agg)).alias("r")).select("r.*")


def column_validation(
    source: DataFrame,
    target: DataFrame,
    spec: ValidationSpec,
) -> DataFrame:
    """Aggregate both sides, join on the group keys (full outer so
    missing groups surface as fails), unpivot to one result row per
    (aggregate, column, group)."""
    if spec.filters:
        source = source.filter(F.expr(spec.filters))
        target = target.filter(F.expr(spec.filters))

    aggs = _agg_exprs(source, spec)
    names = [f"{t}__{c}".replace("*", "star") for t, c, _ in aggs]
    s_agg = [e.alias(n) for (_, _, e), n in zip(aggs, names)]
    # rebuild exprs against target (dtypes may differ)
    t_aggs = _agg_exprs(target, spec)
    t_agg = [e.alias(n) for (_, _, e), n in zip(t_aggs, names)]

    gcols = spec.grouped_columns
    if gcols:
        s = source.groupBy(*gcols).agg(*s_agg)
        t = target.groupBy(*gcols).agg(*t_agg)
        joined = s.alias("s").join(
            t.alias("t"),
            [F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")) for c in gcols],
            "full_outer",
        )
        group_json = F.to_json(
            F.struct(*[F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in gcols])
        )
    else:
        s = source.agg(*s_agg)
        t = target.agg(*t_agg)
        joined = s.alias("s").crossJoin(t.alias("t"))
        group_json = F.lit(None).cast("string")

    return _column_result_rows(
        joined,
        aggs,
        names,
        lambda n: F.col(f"s.{n}"),
        lambda n: F.col(f"t.{n}"),
        group_json,
        spec,
    )


def column_validation_inflight(
    source: DataFrame,
    target_overrides: dict[str, Column],
    spec: ValidationSpec,
) -> DataFrame:
    """``column_validation`` for an IN-FLIGHT row-level transformation:
    the target is the source with some measure columns rewritten
    (``target_overrides``: column → expression over the source row), so
    both sides' aggregates come out of ONE scan and ONE map-side-
    combined groupBy (r14, guide §1.2 — the two-frame form scans the
    source twice when target derives from it; at 100 TB "validate the
    transform you are about to apply" should not cost two corpus
    passes). Output is row-identical to
    ``column_validation(source, transformed, spec)``: the group keys
    come from the same rows, so the full-outer group join the two-frame
    form pays is the identity here.

    Contract: overrides rewrite MEASURE columns only — group keys and
    filter inputs must be untouched (enforced); use the two-frame form
    for genuinely distinct tables."""
    gcols = spec.grouped_columns
    bad = [c for c in target_overrides if c in gcols]
    if bad:
        raise ValueError(
            f"column_validation_inflight: overrides rewrite group "
            f"key(s) {bad} — group identity is what makes the single-"
            f"scan fusion exact; use column_validation instead"
        )
    if spec.filters:
        source = source.filter(F.expr(spec.filters))

    mcols = sorted(
        {
            c
            for c in (
                spec.count_cols
                + spec.sum_cols
                + spec.min_cols
                + spec.max_cols
                + spec.avg_cols
            )
            if c != "*"
        }
    )
    fused = source.select(
        *gcols,
        *[F.col(c).alias(f"__s_{c}") for c in mcols],
        *[
            target_overrides.get(c, F.col(c)).alias(f"__t_{c}")
            for c in mcols
        ],
    )
    s_aggs = _agg_exprs(fused, spec, name=lambda c: f"__s_{c}")
    t_aggs = _agg_exprs(fused, spec, name=lambda c: f"__t_{c}")
    names = [f"{t}__{c}".replace("*", "star") for t, c, _ in s_aggs]
    agg_cols = [e.alias(f"__sv_{n}") for (_, _, e), n in zip(s_aggs, names)]
    agg_cols += [e.alias(f"__tv_{n}") for (_, _, e), n in zip(t_aggs, names)]
    if gcols:
        agged = fused.groupBy(*gcols).agg(*agg_cols)
        group_json = F.to_json(F.struct(*[F.col(c).alias(c) for c in gcols]))
    else:
        agged = fused.agg(*agg_cols)
        group_json = F.lit(None).cast("string")
    return _column_result_rows(
        agged,
        s_aggs,
        names,
        lambda n: F.col(f"__sv_{n}"),
        lambda n: F.col(f"__tv_{n}"),
        group_json,
        spec,
    )


# ---------------------------------------------------------------------------
# Row validation (dvt/main.py:48,76-90 `validate row`)
# ---------------------------------------------------------------------------

def _row_fingerprint(df: DataFrame, spec: ValidationSpec) -> Column:
    """Hash (md5) or plain concat of the compared columns, NULL-safe and
    numerically canonical (see functions.hashing): one SQL expression,
    parsed by one py4j call."""
    cols = spec.hash_cols if spec.hash_cols is not None else spec.concat_cols
    if cols is None or cols == ["*"]:
        use = [c for c in df.columns if c not in set(spec.exclusion_columns)]
    else:
        use = list(cols)
    use = [c for c in use if c not in set(spec.primary_keys)] or use
    concat = null_safe_concat_sql(df, sorted(use))
    return F.expr(f"md5({concat})" if spec.hash_cols is not None else concat)


def row_validation(
    source: DataFrame,
    target: DataFrame,
    spec: ValidationSpec,
    detail: bool = False,
) -> DataFrame:
    """Full-outer PK join of (pk, fingerprint) projections; classify
    each PK as match / mismatch / source_only / target_only.

    ``detail=True`` returns per-key rows (pk columns + status) for
    drill-down; default returns dmt_dvt_results-shaped summary counts.

    Random-row mode samples ``random_row_batch_size`` PKs from the
    source with a seeded shuffle and semi-joins both sides — the
    sampling is one pass over the PK projection only.
    """
    pks = spec.primary_keys
    if not pks:
        raise ValueError("row validation requires primary_keys")
    if spec.filters:
        source = source.filter(F.expr(spec.filters))
        target = target.filter(F.expr(spec.filters))

    s = source.select(*pks, _row_fingerprint(source, spec).alias("__fp_s"))
    t = target.select(*pks, _row_fingerprint(target, spec).alias("__fp_t"))

    if spec.use_random_row:
        sample = (
            s.select(*pks)
            .orderBy(F.rand(spec.random_seed))
            .limit(spec.random_row_batch_size)
        )
        s = s.join(F.broadcast(sample), pks, "left_semi")
        t = t.join(F.broadcast(sample), pks, "left_semi")

    joined = s.alias("s").join(
        t.alias("t"),
        [F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")) for c in pks],
        "full_outer",
    )
    status = (
        F.when(F.col("__fp_s").isNull(), "target_only")
        .when(F.col("__fp_t").isNull(), "source_only")
        .when(F.col("__fp_s") == F.col("__fp_t"), "match")
        .otherwise("mismatch")
    )
    classified = joined.select(
        *[F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in pks],
        status.alias("row_status"),
    )
    if detail:
        return classified

    # one global aggregate; sums (not counts) keep an empty compare's
    # totals NULL
    total = classified.agg(
        F.sum(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("row_status") == "match", 1).otherwise(0)).alias("matched"),
    )
    pct = (
        (F.col("total") - F.col("matched")).cast("double")
        / F.col("total").cast("double")
        * 100.0
    )
    return total.select(
        F.lit(f"row:{','.join(pks)}").alias("validation_name"),
        F.lit("row").alias("validation_type"),
        F.lit(spec.source_table).alias("source_table_name"),
        F.lit(spec.target_table).alias("target_table_name"),
        F.lit(",".join(pks)).alias("source_column_name"),
        F.lit("row_hash" if spec.hash_cols is not None else "row_concat").alias(
            "aggregation_type"
        ),
        F.lit(None).cast("string").alias("group_by_columns"),
        F.col("total").cast("string").alias("source_agg_value"),
        F.col("matched").cast("string").alias("target_agg_value"),
        (F.col("total") - F.col("matched")).cast("double").alias("difference"),
        pct.alias("pct_difference"),
        F.lit(spec.threshold).alias("pct_threshold"),
        _status(pct, F.lit(spec.threshold)).alias("validation_status"),
    )


# ---------------------------------------------------------------------------
# Custom-query validation (dvt/main.py:50-56)
# ---------------------------------------------------------------------------

def custom_query_validation(
    spark: SparkSession,
    source_sql: str,
    target_sql: str,
    spec: ValidationSpec | None = None,
) -> DataFrame:
    """Run user SQL on both sides, then column-validate the results.
    Row mode (primary_keys set) row-validates them instead."""
    spec = spec or ValidationSpec(validation_type="custom query")
    src = spark.sql(source_sql)
    tgt = spark.sql(target_sql)
    if spec.primary_keys:
        return row_validation(src, tgt, spec)
    if not any([spec.count_cols, spec.sum_cols, spec.min_cols, spec.max_cols, spec.avg_cols]):
        spec.count_cols = ["*"]
    return column_validation(src, tgt, spec)


def table_checksum(
    df: DataFrame,
    cols: list[str] | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Order-insensitive table (or partition) fingerprint: per-row
    md5 → int64, summed as DECIMAL(38,0), plus row count. Equal row
    multisets ⇔ equal (n_rows, checksum) — the cheap first-pass table
    compare that decides whether the per-row validation (A7) needs to
    run at all, and with ``group_by`` the per-partition variant that
    LOCALIZES a mismatch before row-level work.

    At 100 TB: one scan, fully map-side combinable — the shuffle ships
    one (sum, count) partial per task per group. DECIMAL(38,0)
    accumulation cannot overflow below ~10^18 rows and is exact in any
    engine (reference compare semantics: dvt/main.py:40-96).
    """
    h = md5_int32(null_safe_concat(df, cols)).cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).alias("checksum"),
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column profile — (column, n_rows, n_nulls, n_distinct,
    min_value, max_value) — the migration-assessment report that
    decides type mappings and validation specs before any data moves
    (reference scope: the per-table metadata DMT stages ahead of
    loads, hive_bq_load_utils.py:64-151, generalized to column grain).

    ONE aggregation pass over the table computes every column's stats
    simultaneously (4×|cols|+1 aggregates); the melt to long format is
    a zero-shuffle projection of the 1-row result. Min/max surface
    through ``canonical_sql`` so the profile is engine-portable.
    At 100 TB: one scan, map-side combinable except the countDistincts
    (exact by design — swap in approx_count_distinct when a bounded
    estimate is acceptable)."""
    cols = cols or df.columns
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, c in enumerate(cols):
        # min/max aggregate in the NATIVE type (string min of a numeric
        # column would be lexicographic) and canonicalize afterwards;
        # the wide row's columns are named by position, so any column
        # name (a dot, a backtick) profiles
        col = F.col(quote_name(c))
        aggs += [
            F.count(col).alias(f"__nonnull{i}"),
            F.countDistinct(col).alias(f"__distinct{i}"),
            F.min(col).alias(f"__min{i}"),
            F.max(col).alias(f"__max{i}"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__total").alias("n_rows"),
            (F.col("__total") - F.col(f"__nonnull{i}")).alias("n_nulls"),
            F.col(f"__distinct{i}").alias("n_distinct"),
            F.expr(canonical_sql(f"__min{i}", types[c])).alias("min_value"),
            F.expr(canonical_sql(f"__max{i}", types[c])).alias("max_value"),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
