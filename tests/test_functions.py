from __future__ import annotations

import datetime
import math
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_migration_tool_spark.functions import (
    cosine_similarity,
    davg,
    dsum,
    null_safe_concat,
    ordered_string_agg,
    row_md5,
)
from data_migration_tool_spark.functions import text as TX
from data_migration_tool_spark.functions.hashing import NULL_SENTINEL, SEP
from data_migration_tool_spark.operators.validation import ValidationSpec, _row_fingerprint


def test_dsum_davg_exact(spark):
    df = spark.createDataFrame([(1.10,), (2.20,), (3.30,)], "x double")
    row = df.agg(
        dsum("x").alias("s"), davg("x").alias("a")
    ).first()
    assert row["s"] == 6.6
    assert abs(row["a"] - 2.2) < 1e-12


def test_ordered_string_agg(spark):
    df = spark.createDataFrame(
        [("g", "b", 2), ("g", "a", 1), ("g", "c", 3)], "g string, v string, o int"
    )
    row = (
        df.groupBy("g").agg(ordered_string_agg("v", "o").alias("agg")).first()
    )
    assert row["agg"] == "a,b,c"


def test_row_md5_null_safety(spark):
    df = spark.createDataFrame([("a", None), (None, "a")], "x string, y string")
    hashes = [r[0] for r in df.select(row_md5(df)).collect()]
    assert hashes[0] != hashes[1]


def test_cosine_similarity(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    vals = [r[0] for r in df.select(cosine_similarity("a", "b")).collect()]
    assert abs(vals[0]) < 1e-12
    assert math.isclose(vals[1], 1.0, rel_tol=1e-9)


def test_text_functions(spark):
    df = spark.createDataFrame([("the cat sat on the mat",)], "text string")
    row = df.select(
        TX.token_count("text").alias("n"),
        TX.word_shingles("text", 3).alias("sh"),
        TX.predicted_lang("text").alias("lang"),
        TX.fingerprint("text").alias("fp"),
    ).first()
    assert row["n"] == 6
    assert row["sh"][0] == "the cat sat"
    assert len(row["sh"]) == 4
    assert row["lang"] == "en"
    assert len(row["fp"]) == 32


def test_bpe_token_count(spark):
    from data_migration_tool_spark.functions.text import bpe_token_count, token_count

    df = spark.createDataFrame(
        [(1, "don't panic, it's fine!"), (2, "abc123 x")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "id",
            token_count("text").alias("ws"),
            bpe_token_count("text").alias("bpe"),
        ).collect()
    }
    # don ' t panic , it ' s fine !  → 10 BPE-ish tokens vs 4 ws tokens
    assert got[1] == (4, 10)
    # abc 123 x → letter run, digit run, letter run
    assert got[2] == (2, 3)


def test_winnow_shared_fingerprint_property(spark):
    from data_migration_tool_spark.functions.text import winnow_fingerprints

    # two docs sharing a 20-char substring (≥ w + k - 1 = 8) MUST share
    # at least one fingerprint; a disjoint-alphabet doc must share none
    common = "zzqqxxvvnnzzqqxxvvnn"
    df = spark.createDataFrame(
        [
            (1, "aaa " + common + " bbb"),
            (2, "ccc " + common + " ddd"),
            (3, "1234567890123456789012345"),
        ],
        "id long, text string",
    )
    fps = {
        r["id"]: set(r["fp"])
        for r in df.select(
            "id", winnow_fingerprints("text").alias("fp")
        ).collect()
    }
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])


def _column_api_concat(df, cols):
    """The Column-API rendering the SQL-string concat replaced: the
    reference its hashes must equal."""
    def canonical(col, dtype):
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return col.cast("decimal(30,6)").cast("string")
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        if isinstance(dtype, T.DateType):
            return F.date_format(col, "yyyy-MM-dd")
        return col.cast("string")

    by_name = {f.name: f.dataType for f in df.schema.fields}
    return F.concat_ws(SEP, *[
        F.coalesce(canonical(F.col(c), by_name[c]), F.lit(NULL_SENTINEL)) for c in cols
    ])


def test_sql_string_fingerprint_equals_column_api_form(spark):
    """``row_md5``/``null_safe_concat`` and row validation's fingerprint,
    rendered as one SQL string, hash every type exactly as the Column-API
    form did, with NULLs, and with column names holding a space and a
    backtick (compared on a copy with plain names: the hash never reads
    a name)."""
    schema = ("`k` int, `d b` double, `f``l` float, `dec` decimal(12,3), `ts` timestamp, "
              "`ntz` timestamp_ntz, `dt` date, `s` string, `i` int")
    rows = [
        (1, 1.5, 2.25, Decimal("12.345"), datetime.datetime(2026, 1, 2, 3, 4, 5, 6),
         datetime.datetime(2026, 1, 2, 3, 4, 5, 600000), datetime.date(2026, 1, 2), "a␟b", 7),
        (2, -0.1, -1e-7, Decimal("-0.001"), datetime.datetime(1999, 12, 31, 23, 59, 59),
         datetime.datetime(1970, 1, 1), datetime.date(1970, 1, 1), "", -3),
        (3, 1e20, 3.0e10, Decimal("999999999.999"), None, None, None, None, None),
        (4, None, None, None, datetime.datetime(2026, 6, 1), None, None, "x", 0),
    ]
    df = spark.createDataFrame(rows, schema)
    plain = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    names = df.columns
    assert "d b" in names and "f`l" in names

    got = df.select(row_md5(df).alias("h"), null_safe_concat(df).alias("c")).collect()
    want = plain.select(F.md5(_column_api_concat(plain, plain.columns)).alias("h"),
                        _column_api_concat(plain, plain.columns).alias("c")).collect()
    assert got == want
    assert len({r.h for r in got}) == len(rows)

    # row validation's fingerprint: the non-key columns in sorted order
    order = sorted(n for n in names if n != "k")
    plain_order = [plain.columns[names.index(n)] for n in order]
    for spec, wrap in ((ValidationSpec(primary_keys=["k"], hash_cols=["*"]), F.md5),
                       (ValidationSpec(primary_keys=["k"], concat_cols=["*"]), lambda c: c)):
        got = [r[0] for r in df.select(_row_fingerprint(df, spec)).collect()]
        want = [r[0] for r in plain.select(wrap(_column_api_concat(plain, plain_order))).collect()]
        assert got == want
