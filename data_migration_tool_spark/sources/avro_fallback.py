"""Pure-Python Avro Object Container File reader/writer — the S5 avro
load path without the spark-avro connector.

The reference loads staged AVRO with ``--use_avro_logical_types=true``
(hive_bq_load_utils.py:222-223): date / timestamp-millis / decimal
columns must land TYPED, not as raw int/long/bytes.  pip pyspark ships
the Avro *core* jars but not the ``spark-avro`` datasource, and this
sandbox cannot fetch it (SCALE.md records the live attempt) — so this
module implements the Avro 1.x Object Container File format from the
public specification in pure stdlib Python:

* binary encoding: zigzag-varint longs, IEEE little-endian floats,
  length-prefixed bytes/strings, index-prefixed unions, count-block
  arrays/maps;
* container layout: ``Obj\\x01`` magic, metadata map (schema JSON +
  codec), 16-byte sync marker, sync-framed data blocks;
* codecs: ``null`` and ``deflate`` (raw zlib) — both stdlib;
* logical types: ``date`` (int days), ``timestamp-millis/-micros``
  (long), ``decimal`` (bytes/fixed two's-complement unscaled).
  Timestamp convention: NAIVE datetimes mean UTC on both the encode
  and decode side; timezone-aware values are normalized to UTC before
  encoding. Run Spark with ``spark.sql.session.timeZone=UTC`` (the
  repo default) when round-tripping through this lane, or wall-clock
  values shift by the session offset.

Execution shape: ``read_avro`` lists the ``.avro`` files, reads ONE
header driver-side for the schema, then decodes file contents inside
``mapInPandas`` over a ``binaryFile`` scan — each executor task decodes
whole files and emits Arrow batches, so a many-file load parallelizes
per file (the unit the agent hand-off produces).  This is the fallback
lane: with the real connector on the classpath ``readers.read_table``
uses it unchanged and none of this runs.  Correctness is pinned by
cross-implementation tests: files written by the JVM reference
implementation (the avro core jars, driven over py4j) decode here, and
files written here are read back by the JVM reader (test_sources.py).
"""

from __future__ import annotations

import datetime
import decimal
import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
_EPOCH = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)


# ---------------------------------------------------------------- decoding

class _Reader:
    def __init__(self, data: bytes):
        self.b = data
        self.pos = 0

    def read(self, n: int) -> bytes:
        out = self.b[self.pos : self.pos + n]
        if len(out) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return out

    def long(self) -> int:
        shift, acc = 0, 0
        while True:
            byte = self.b[self.pos]
            self.pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def at_end(self) -> bool:
        return self.pos >= len(self.b)


def _decode(r: _Reader, schema) -> object:
    """Decode one value of ``schema`` (parsed JSON) from ``r``."""
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return r.read(1) == b"\x01"
        if t in ("int", "long"):
            return r.long()
        if t == "float":
            return struct.unpack("<f", r.read(4))[0]
        if t == "double":
            return struct.unpack("<d", r.read(8))[0]
        if t == "bytes":
            return r.read(r.long())
        if t == "string":
            return r.read(r.long()).decode("utf-8")
        raise ValueError(f"unsupported avro type {t!r}")
    if isinstance(schema, list):  # union — nullable only (see _nullable)
        idx = r.long()
        return _decode(r, schema[idx])
    t = schema["type"]
    logical = schema.get("logicalType")
    if t == "record":
        return {
            f["name"]: _decode(r, f["type"]) for f in schema["fields"]
        }
    if t == "enum":
        return schema["symbols"][r.long()]
    if t == "fixed":
        raw = r.read(schema["size"])
        if logical == "decimal":
            return _unscale(raw, schema["scale"])
        return raw
    if t == "array":
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                r.long()
            for _ in range(n):
                out.append(_decode(r, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                r.long()
            for _ in range(n):
                k = r.read(r.long()).decode("utf-8")
                out[k] = _decode(r, schema["values"])
    if t == "bytes" and logical == "decimal":
        return _unscale(r.read(r.long()), schema["scale"])
    if t == "int" and logical == "date":
        return _EPOCH + datetime.timedelta(days=r.long())
    if t == "long" and logical in ("timestamp-millis", "timestamp-micros"):
        v = r.long()
        us = v * 1000 if logical == "timestamp-millis" else v
        return _EPOCH_TS + datetime.timedelta(microseconds=us)
    # logical type on a plain primitive we don't special-case → raw value
    return _decode(r, t)


def _unscale(raw: bytes, scale: int) -> decimal.Decimal:
    unscaled = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(unscaled).scaleb(-scale)


# ---------------------------------------------------------------- encoding

class _Writer:
    def __init__(self):
        self.buf = io.BytesIO()

    def write(self, b: bytes) -> None:
        self.buf.write(b)

    def long(self, v: int) -> None:
        v = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1 | 1)
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                self.buf.write(bytes([byte | 0x80]))
            else:
                self.buf.write(bytes([byte]))
                return

    def value(self) -> bytes:
        return self.buf.getvalue()


def _encode(w: _Writer, schema, v) -> None:
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return
        if t == "boolean":
            w.write(b"\x01" if v else b"\x00")
        elif t in ("int", "long"):
            w.long(int(v))
        elif t == "float":
            w.write(struct.pack("<f", float(v)))
        elif t == "double":
            w.write(struct.pack("<d", float(v)))
        elif t == "bytes":
            w.long(len(v))
            w.write(bytes(v))
        elif t == "string":
            raw = v.encode("utf-8")
            w.long(len(raw))
            w.write(raw)
        else:
            raise ValueError(f"unsupported avro type {t!r}")
        return
    if isinstance(schema, list):
        if v is None:
            idx = schema.index("null")
        else:
            idx = next(i for i, s in enumerate(schema) if s != "null")
        w.long(idx)
        _encode(w, schema[idx], v)
        return
    t = schema["type"]
    logical = schema.get("logicalType")
    if t == "record":
        for f in schema["fields"]:
            _encode(w, f["type"], v[f["name"]])
    elif t == "enum":
        w.long(schema["symbols"].index(v))
    elif t == "fixed":
        w.write(bytes(v))
    elif t == "array":
        if v:
            w.long(len(v))
            for item in v:
                _encode(w, schema["items"], item)
        w.long(0)
    elif t == "map":
        if v:
            w.long(len(v))
            for k, val in v.items():
                _encode(w, "string", k)
                _encode(w, schema["values"], val)
        w.long(0)
    elif t == "bytes" and logical == "decimal":
        unscaled = int(
            decimal.Decimal(v).scaleb(schema["scale"]).to_integral_value()
        )
        raw = unscaled.to_bytes((unscaled.bit_length() + 8) // 8 or 1, "big", signed=True)
        w.long(len(raw))
        w.write(raw)
    elif t == "int" and logical == "date":
        w.long((v - _EPOCH).days)
    elif t == "long" and logical in ("timestamp-millis", "timestamp-micros"):
        # naive datetimes mean UTC (module convention, mirrored by the
        # decoder); aware ones are normalized so the subtraction from
        # the naive epoch is well-defined instead of a TypeError
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        us = round((v - _EPOCH_TS).total_seconds() * 1_000_000)
        w.long(us // 1000 if logical == "timestamp-millis" else us)
    else:
        _encode(w, t, v)


# ------------------------------------------------------------- container

def parse_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """(schema JSON, codec, sync marker, body offset) from an OCF
    prefix."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    r = _Reader(data)
    r.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.read(r.long()).decode("utf-8")
            meta[k] = r.read(r.long())
    sync = r.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, r.pos


def _check_codec(codec: str) -> None:
    if codec not in ("null", "deflate"):
        raise ValueError(
            f"avro codec {codec!r} not supported by the fallback reader "
            "(null/deflate only — snappy/zstd need the spark-avro "
            "connector's native codecs)"
        )


def decode_blocks(data: bytes, schema: dict, codec: str, sync: bytes) -> list[dict]:
    """Decode a byte range that starts on a block boundary and ends
    right after a sync marker."""
    r = _Reader(data)
    rows: list[dict] = []
    while not r.at_end():
        count = r.long()
        size = r.long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            rows.append(_decode(br, schema))
        if r.read(16) != sync:
            raise ValueError("sync marker mismatch — corrupt avro block")
    return rows


def decode_file(data: bytes) -> tuple[dict, list[dict]]:
    """All records of one OCF byte string → (schema, rows)."""
    schema, codec, sync, pos = parse_header(data)
    _check_codec(codec)
    return schema, decode_blocks(data[pos:], schema, codec, sync)


def write_avro(
    rows: list[dict],
    schema: dict,
    path: str,
    codec: str = "null",
    block_rows: int | None = None,
) -> None:
    """Driver-side OCF writer (test fixtures / small staging hand-offs;
    big writes belong to the connector or parquet). ``block_rows``
    frames the output into multiple sync-delimited blocks (default:
    one block)."""
    w = _Writer()
    w.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    w.long(len(meta))
    for k, v in meta.items():
        _encode(w, "string", k)
        w.long(len(v))
        w.write(v)
    w.long(0)
    sync = bytes((i * 41 + 7) % 256 for i in range(16))  # fixed marker
    w.write(sync)
    step = block_rows or max(len(rows), 1)
    for i in range(0, max(len(rows), 1), step):
        chunk = rows[i : i + step]
        if not chunk:
            break
        body = _Writer()
        for row in chunk:
            _encode(body, schema, row)
        block = body.value()
        if codec == "deflate":
            block = zlib.compress(block)[2:-4]  # raw stream
        w.long(len(chunk))
        w.long(len(block))
        w.write(block)
        w.write(sync)
    with open(path, "wb") as fh:
        fh.write(w.value())


# ---------------------------------------------------------- schema mapping

def _nullable(schema) -> tuple[object, bool]:
    if isinstance(schema, list):
        others = [s for s in schema if s != "null"]
        if len(others) != 1:
            raise ValueError(
                f"general avro unions are not supported (got {schema!r}); "
                "only [null, T] nullability"
            )
        return others[0], True
    return schema, False


def avro_to_spark_type(schema) -> T.DataType:
    schema, _ = _nullable(schema)
    if isinstance(schema, str):
        return {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }[schema]
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "decimal":
        return T.DecimalType(schema["precision"], schema["scale"])
    if t == "int" and logical == "date":
        return T.DateType()
    if t == "long" and logical in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    avro_to_spark_type(f["type"]),
                    _nullable(f["type"])[1],
                )
                for f in schema["fields"]
            ]
        )
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        item, item_null = _nullable(schema["items"])
        return T.ArrayType(avro_to_spark_type(item), item_null)
    if t == "map":
        val, val_null = _nullable(schema["values"])
        return T.MapType(T.StringType(), avro_to_spark_type(val), val_null)
    if isinstance(t, (str, list, dict)) and t != schema:
        return avro_to_spark_type(t)
    raise ValueError(f"unsupported avro schema {schema!r}")


def spark_schema(avro_schema: dict) -> T.StructType:
    if avro_schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    out = avro_to_spark_type(avro_schema)
    assert isinstance(out, T.StructType)
    return out


# ---------------------------------------------------------------- read path

def read_avro(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Distributed fallback read: schema from one header driver-side,
    then per-file decode inside ``mapInPandas`` over a ``binaryFile``
    scan — Arrow-batched, one task per file.

    ``path`` must be DRIVER-LOCAL (a file or a flat directory): the
    schema probe in ``_first_avro_file`` uses ``os.listdir`` + ``open``,
    so an ``hdfs://`` / ``gs://`` / ``s3a://`` staging URI fails loudly
    at the probe even though the ``binaryFile`` scan itself would accept
    any Hadoop URI. That matches this lane's role — decoding the agent
    hand-off files already staged locally; remote lakes should use the
    real spark-avro connector (``readers.read_table`` probes for it and
    prefers it whenever it is on the classpath)."""
    first = _first_avro_file(path if isinstance(path, str) else path[0])
    with open(first, "rb") as fh:
        head = fh.read()
    avro_schema, _, _, _ = parse_header(head)
    out_schema = spark_schema(avro_schema)
    cols = [f.name for f in out_schema.fields]
    ts_cols = _timestamp_cols(out_schema)

    def decode_files(batches):
        # each file re-parses its own header, so per-file schema
        # drift fails loudly instead of silently misdecoding
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for content in pdf["content"]:
                _, rows = decode_file(bytes(content))
                yield _rows_to_pdf(pd, rows, cols, ts_cols)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )
    return files.mapInPandas(decode_files, out_schema)


def _first_avro_file(path: str) -> str:
    if os.path.isfile(path):
        return path
    names = sorted(f for f in os.listdir(path) if f.endswith(".avro"))
    if not names:
        raise FileNotFoundError(f"no .avro files under {path}")
    return os.path.join(path, names[0])


def _timestamp_cols(out_schema: T.StructType) -> list[str]:
    return [
        f.name for f in out_schema.fields if isinstance(f.dataType, T.TimestampType)
    ]


def _rows_to_pdf(pd, rows: list[dict], cols: list[str], ts_cols: list[str]):
    """Decoded python rows → a pandas frame Arrow converts CHEAPLY.
    Timestamp columns are coerced to datetime64[ns] vectorized —
    object-dtype datetime columns take the slow per-value Arrow path
    and dominated the decode wall (measured ~5× on a 22 MB file)."""
    data = {c: [r.get(c) for r in rows] for c in cols}
    pdf = pd.DataFrame(data)
    for c in ts_cols:
        pdf[c] = pd.to_datetime(pdf[c])
    return pdf
