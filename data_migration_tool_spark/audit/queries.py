"""The reference's audit SQL (``datamigration_utils/constants.py:20-107``)
re-expressed as builders over the AuditLog tables.

These queries are the reference's *own* relational workload — anti-joins
for rerun protocols, latest-run selection, grouped tallies, ordered
string aggregation, windowed incremental consumption — and they are the
shapes exercised (with oracles) over the big testdata tables in
``plans/relational.py``. There are two kinds of builder:

- AuditLog-fed (``tables_to_load``, ``dvt_passed_tables``,
  ``validation_run_summary``, ``files_in_window``, ``latest_pass_copies``,
  ``affected_tables_from_copy_status``): computed on the driver with
  ``pyarrow.compute`` / Acero over ``AuditLog.arrow``, the result handed
  to Spark as ``createDataFrame(arrow, schema)``, a ``LocalRelation``
  whose ``collect()`` schedules no job. The audit tables hold dozens of
  rows per run, where Spark's planning, AQE and one to three jobs per
  query cost 150-520 ms and the Arrow form a few ms. A result above
  ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark
  parallelizes from the driver: still correct, no longer job-free.
  ``window_files`` and ``pass_copies`` are the Arrow forms that
  ``sources.incremental`` uses without a DataFrame.
- Frame-fed (``labeled_validation_summary``, ``schema_strings``,
  ``clustering_columns``): Spark builders over any DataFrame, however
  large; a registry lane runs ``labeled_validation_summary``.
"""

from __future__ import annotations

import datetime
import json
import zoneinfo

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_tool_spark.audit.log import KNOWN_SCHEMAS, AuditLog
from data_migration_tool_spark.functions.scalars import ordered_string_agg


def _fields(table: str, cols: list[str]) -> list[T.StructField]:
    return [KNOWN_SCHEMAS[table][c] for c in cols]


def _frame(audit: AuditLog, tbl: pa.Table, fields: list[T.StructField]) -> DataFrame:
    # one chunk: Spark stops reading the Arrow stream at an empty batch
    # that is not the first, and a filter can leave one
    return audit.spark.createDataFrame(tbl.combine_chunks(), T.StructType(fields))


def _distinct(tbl: pa.Table, cols: list[str]) -> pa.Table:
    """The distinct rows of ``cols``; NULLs group together, as in
    Spark's ``distinct``."""
    return tbl.group_by(cols).aggregate([]).select(cols)


def _where(tbl: pa.Table, col: str, value) -> pa.Table:
    """Rows whose ``col`` equals ``value``; a NULL matches nothing."""
    return tbl.filter(pc.equal(tbl[col], value))


def _session_tz(spark) -> datetime.tzinfo:
    """``spark.sql.session.timeZone`` as Spark resolves it (region IDs,
    offsets such as ``GMT+8``, and Java's short IDs)."""
    zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        spark.conf.get("spark.sql.session.timeZone")
    ).normalized().getId()
    if zone == "Z":
        return datetime.timezone.utc
    if zone[0] in "+-":
        h, m, *sec = (int(x) for x in zone[1:].split(":"))
        off = datetime.timedelta(hours=h, minutes=m, seconds=sum(sec))
        return datetime.timezone(off if zone[0] == "+" else -off)
    return zoneinfo.ZoneInfo(zone)


_DDL_COLS = ["database", "bq_dataset", "table", "format", "field_delimiter",
             "partition_flag", "cluster_flag"]
_DDL_KEYS = ["database", "table"]


def tables_to_load(audit: AuditLog, rerun: bool = True) -> DataFrame:
    """query_rerun_y (constants.py:28-38): tables from the latest DDL
    extraction that do NOT yet have a PASS load — left anti-join against
    the load audit. The latest extraction is the reference's correlated
    MAX: every extracted row at its table's max ``start_time``, then the
    distinct rows (a NULL key or ``start_time`` matches no max).
    ``rerun=False`` returns all extracted tables."""
    meta = _where(audit.arrow("hive_ddl_metadata"), "ddl_extracted", "YES")
    # an inner join: a NULL key finds no max, as in the correlated subquery
    meta = meta.join(meta.group_by(_DDL_KEYS).aggregate([("start_time", "max")]), _DDL_KEYS)
    latest = _distinct(
        meta.filter(pc.equal(meta["start_time"], meta["start_time_max"])), _DDL_COLS
    )
    cols = _DDL_COLS
    if rerun:
        # an anti-join keeps a row once however many matches it has, so
        # repeated PASS loads need no distinct
        loaded = _where(audit.arrow("hive_bqload_audit"), "load_status", "PASS").select(
            ["hive_db_name", "tablename"]
        ).rename_columns(_DDL_KEYS)
        latest = latest.join(loaded, _DDL_KEYS, join_type="left anti")
        # Spark's join puts the USING keys first
        cols = _DDL_KEYS + [c for c in _DDL_COLS if c not in _DDL_KEYS]
    return _frame(audit, latest.select(cols), _fields("hive_ddl_metadata", cols))


_DVT_KEYS = ["source_table_name", "run_id"]


def dvt_passed_tables(audit: AuditLog) -> DataFrame:
    """query_dvt_y (constants.py:41-46): the (table, run) pairs, over
    every validation run, that have success rows and no fail rows —
    anti-join of the pass set against the fail set (J3). A table listed
    for one run may have failed in another."""
    res = audit.arrow("dmt_dvt_results")
    passed = _distinct(_where(res, "validation_status", "success"), _DVT_KEYS)
    failed = _where(res, "validation_status", "fail").select(_DVT_KEYS)
    return _frame(
        audit,
        passed.join(failed, _DVT_KEYS, join_type="left anti").select(_DVT_KEYS),
        _fields("dmt_dvt_results", _DVT_KEYS),
    )


_SUMMARY_KEYS = ["run_id", "source_table_name"]


def validation_run_summary(audit: AuditLog) -> DataFrame:
    """Run summaries (A2/A8): per (run, table) pass/fail tallies with the
    HAVING-conditional-sum shape from teradata_data_load_dag.py:133-150."""
    res = audit.arrow("dmt_dvt_results")
    is_fail = pc.fill_null(pc.equal(res["validation_status"], "fail"), False)
    tally = (
        res.select(_SUMMARY_KEYS)
        .append_column("fail", pc.if_else(is_fail, 1, 0))
        .group_by(_SUMMARY_KEYS)
        .aggregate([([], "count_all"), ("fail", "sum")])
    )
    n_failed = tally["fail_sum"]
    return _frame(audit, pa.table({
        "run_id": tally["run_id"],
        "source_table_name": tally["source_table_name"],
        "n_validations": tally["count_all"],
        "n_failed": n_failed,
        "table_status": pc.if_else(pc.equal(n_failed, 0), "PASS", "FAIL"),
    }), _fields("dmt_dvt_results", _SUMMARY_KEYS) + [
        T.StructField("n_validations", T.LongType(), False),
        T.StructField("n_failed", T.LongType()),
        T.StructField("table_status", T.StringType(), False),
    ])


def labeled_validation_summary(results: DataFrame, unique_id: str) -> DataFrame:
    """Aggregated DVT results for one run, selected by exploding the
    repeated ``labels`` field (array<struct<key,value>>) and matching
    the label VALUE — the reference's CROSS JOIN UNNEST(labels) filter
    (validation_dag.py:181-195), which tags results with run labels
    instead of a run_id column. One row: (unique_id, total_validations,
    successful_validations, failed_validations).

    At 100 TB of audit rows: explode is a map-side row multiplier
    (|labels| per row, no shuffle); the only exchange is the final
    single-group agg's one-row-per-partition partial."""
    lab = results.select(
        "validation_status", F.explode("labels").alias("lab")
    ).filter(F.col("lab.value") == unique_id)
    return lab.agg(
        F.lit(unique_id).alias("unique_id"),
        F.count(F.lit(1)).alias("total_validations"),
        F.sum(
            F.when(F.col("validation_status") == "success", 1).otherwise(0)
        ).alias("successful_validations"),
        F.sum(
            F.when(F.col("validation_status") == "fail", 1).otherwise(0)
        ).alias("failed_validations"),
    )


def schema_strings(columns_info: DataFrame) -> DataFrame:
    """Explicit schema-string reconstruction (constants.py:66-73):
    ``col:type`` joined in ordinal order per table — ordered STRING_AGG
    (A4) via sorted collect_list."""
    return columns_info.groupBy("table_name").agg(
        ordered_string_agg(
            F.concat_ws(":", F.col("column_name"), F.col("data_type")),
            "ordinal_position",
        ).alias("schema_string")
    )


def clustering_columns(columns_info: DataFrame) -> DataFrame:
    """Partition+clustering column lists (constants.py:54-64): UNION ALL
    of the partition-column and clustering-column subqueries, then
    ordered STRING_AGG per table (U1 + A4)."""
    part = (
        columns_info.filter(F.col("is_partitioning_column") == "YES")
        .select(
            "table_name",
            F.col("column_name"),
            F.lit(0).alias("ord"),
            F.lit("partition").alias("kind"),
        )
    )
    clus = (
        columns_info.filter(F.col("clustering_ordinal_position").isNotNull())
        .select(
            "table_name",
            F.col("column_name"),
            F.col("clustering_ordinal_position").alias("ord"),
            F.lit("cluster").alias("kind"),
        )
    )
    return (
        part.unionByName(clus)
        .groupBy("table_name", "kind")
        .agg(ordered_string_agg("column_name", "ord").alias("columns"))
    )


def _first_key_wins(pairs: list) -> dict:
    obj: dict = {}
    for k, v in pairs:
        obj.setdefault(k, v)
    return obj


def _reject(constant: str):
    raise ValueError(constant)


_JSON = json.JSONDecoder(strict=False, object_pairs_hook=_first_key_wins, parse_constant=_reject)


def _json_field(doc: str | None, key: str) -> str | None:
    """Spark's ``get_json_object(doc, '$.<key>')``: NULL for a NULL or
    invalid document, a top level that is not an object, a missing key
    or a JSON null; a string value unquoted; any other value as compact
    JSON. As in Spark, the first of duplicate keys wins, text after the
    document is ignored and NaN is invalid. Not matched: Spark also
    reads single-quoted strings, and prints a float outside
    [1e-3, 1e7) in Java's notation (``1.0E20``, here ``1e+20``)."""
    if doc is None:
        return None
    try:
        obj, _ = _JSON.raw_decode(doc.lstrip())
    except ValueError:
        return None
    value = obj.get(key) if isinstance(obj, dict) else None
    if value is None or isinstance(value, str):
        return value
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"))


def _minus_days(ts: datetime.datetime, days: int, tz: datetime.tzinfo) -> datetime.datetime:
    """``ts - INTERVAL days DAY`` as Spark computes it: ``days`` calendar
    days back on the session time zone's wall clock (Java's
    ``ZonedDateTime.minusDays``). A wall time in a DST gap moves forward
    by the gap; one in an overlap keeps ``ts``'s offset if it can, else
    takes the earlier instant."""
    local = ts.astimezone(tz)
    wall = local.replace(tzinfo=None) - datetime.timedelta(days=days)
    early, late = (wall.replace(tzinfo=tz, fold=f) for f in (0, 1))
    overlap = (
        early.utcoffset() != late.utcoffset()
        and late.astimezone(datetime.timezone.utc).astimezone(tz).replace(tzinfo=None) == wall
    )
    pick = late if overlap and late.utcoffset() == local.utcoffset() else early
    return pick.astimezone(datetime.timezone.utc)


_WINDOW_COLS = ["file_name", "bucket", "publish_time", "message_id"]


def window_files(audit: AuditLog, lookback_days: int = 1) -> pa.Table:
    """``files_in_window`` as an Arrow table."""
    pubsub = audit.arrow("hive_pubsub_audit")
    ts = pubsub["publish_time"]
    mx = pc.max(ts)  # NULL for an empty or all-NULL table: no row matches
    lo = pa.scalar(
        _minus_days(mx.as_py(), lookback_days, _session_tz(audit.spark)) if mx.is_valid else None,
        ts.type,
    )
    pubsub = pubsub.filter(pc.and_(pc.greater(ts, lo), pc.less_equal(ts, mx)))
    data = pubsub["data"].to_pylist()
    return _distinct(pa.table({
        "file_name": pa.array([_json_field(d, "name") for d in data], pa.string()),
        "bucket": pa.array([_json_field(d, "bucket") for d in data], pa.string()),
        "publish_time": pubsub["publish_time"],
        "message_id": pubsub["message_id"],
    }), _WINDOW_COLS)


def files_in_window(audit: AuditLog, lookback_days: int = 1) -> DataFrame:
    """Windowed incremental consumption (ST2, constants.py:84-90): pubsub
    audit rows whose publish_time ∈ (max - lookback, max], the interval
    taken in the session time zone, file name pulled out of the JSON
    payload (F3)."""
    pubsub = KNOWN_SCHEMAS["hive_pubsub_audit"]
    return _frame(audit, window_files(audit, lookback_days), [
        T.StructField("file_name", T.StringType()),
        T.StructField("bucket", T.StringType()),
        pubsub["publish_time"],
        pubsub["message_id"],
    ])


def pass_copies(audit: AuditLog, latest: bool = False) -> pa.Table:
    """The PASS file-copy rows of ``hive_inc_load_table_list`` as an
    Arrow table. ``latest`` keeps those of the latest job-run date
    (``to_date`` in the session time zone), that date taken over every
    copy row, so a later FAIL-only date selects nothing."""
    cs = audit.arrow("hive_inc_load_table_list")
    if latest:
        tz = _session_tz(audit.spark)
        day = pa.array([None if t is None else t.astimezone(tz).date()
                        for t in cs["job_run_time"].to_pylist()], pa.date32())
        cs = cs.filter(pc.equal(day, pc.max(day)))
    return _where(cs, "file_copy_status", "PASS")


def latest_pass_copies(audit: AuditLog) -> DataFrame:
    """constants.py:92-100's selection: the PASS file-copy rows of the
    latest job-run date (``pass_copies(latest=True)``)."""
    return _frame(audit, pass_copies(audit, latest=True), list(KNOWN_SCHEMAS["hive_inc_load_table_list"]))


def affected_tables_from_copy_status(audit: AuditLog) -> DataFrame:
    """constants.py:92-100: distinct PASS-copied tables from the latest
    job-run date."""
    cols = ["hive_db", "bq_dataset", "table_name"]
    return _frame(
        audit,
        _distinct(pass_copies(audit, latest=True), cols),
        _fields("hive_inc_load_table_list", cols),
    )
