"""Multimodal plans under the correctness gate.

Media rows are synthesized deterministically from the ``documents``
table: image rows become REAL 24-bit BMP bytes and audio rows REAL
PCM16 WAV bytes (encoded in an Arrow-batched mapInPandas stage), with
dimensions/samples derived arithmetically from ``doc_id``; video rows
become REAL uncompressed RIFF AVIs (raw BGR24 frames). The decode
pipeline (``operators.multimodal.extract_media_features``) then parses
those containers back — header walk, pixel/sample/frame payload, luma
mean / RMS — and the DuckDB oracle predicts every decoded value from
the same ``doc_id`` arithmetic. Encoder, decoder, and oracle are three
independent code paths, so a PASS certifies genuine container parsing,
not a shared stub.

All oracle-compared outputs are SCALAR columns — driver canonicalizers
sort/hash cell values, and array cells break that contract.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_tool_spark.operators.multimodal import (
    encode_avi,
    encode_bmp,
    encode_wav,
    extract_media_features,
    frame_sample_plan,
    sample_frames,
)
from data_migration_tool_spark.partitioning import cached
from data_migration_tool_spark.tables import load_table, parquet_schema

def _spread_seed(d: DataFrame) -> DataFrame:
    """Round-robin the generator seed frame across the cluster before a
    CPU-bound Python encode stage. The seed is a tiny parquet (one
    input split), so without an explicit exchange the per-doc blob
    encode — and everything fused into its stage — runs on ONE core;
    AQE can't help because it sizes partitions by bytes, not by the
    codec CPU each row costs. An explicit numPartitions is exempt from
    AQE coalescing; the shuffled payload is just doc ids."""
    return d.repartition(d.sparkSession.sparkContext.defaultParallelism)


def _kind() -> F.Column:
    return (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media ingest: every document becomes one media blob
    (BMP / WAV / opaque) whose contents are a pure function of doc_id,
    encoded executor-side in Arrow batches (no driver materialization)."""
    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                m = i % 3
                if m == 0:
                    w, h = 4 + i % 13, 3 + i % 7
                    blob = encode_bmp(w, h, lambda x, y, i=i: (i + x + 3 * y) % 256)
                    kind = "image"
                elif m == 1:
                    samples = [
                        ((i * 131 + j * 17) % 2001) - 1000
                        for j in range(16 + i % 33)
                    ]
                    blob = encode_wav(8000, samples)
                    kind = "audio"
                else:
                    w, h, nf = 4 + i % 9, 3 + i % 5, 2 + i % 4
                    blob = encode_avi(
                        w, h, nf, 5,
                        lambda x, y, f, i=i: (i + x + 3 * y + 5 * f) % 256,
                    )
                    kind = "video"
                ids.append(i)
                kinds.append(kind)
                blobs.append(blob)
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": blobs})

    return d.mapInPandas(enc, "media_id long, kind string, content binary")


def _feature_extract_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """``media_feature_extract``'s frame BEFORE the eager materialize —
    split out so plan-shape tests can pin the Arrow map nodes that the
    lane's localCheckpoint hides from the query-level explain (the
    returned query plan is a Scan ExistingRDD). Returns (out, caches):
    the frames the lane caches while it materializes ``out``. The
    operator references the encoded corpus from both join sides."""
    media = media_from_documents(spark, sf_dir)
    feats = extract_media_features(media)
    out = feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.round("mean_luma", 6).alias("mean_luma"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("fps").cast("long").alias("fps"),
    )
    return out, [media]


def media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode → feature pipeline: content hashed, distinct blobs
    PARSED once (BMP/WAV header+payload, Arrow batches), scalar decoded
    fields joined back. At 100 TB the dedup-before-decode join is the
    whole point — duplicate media decode cost collapses to one per
    distinct blob."""
    out, caches = _feature_extract_pipeline(spark, sf_dir)
    with cached(*caches):
        return out.localCheckpoint(eager=True)


MEDIA_FEATURES_SQL = """
WITH dims AS (
  SELECT doc_id, text,
         doc_id % 3 AS m,
         4 + doc_id % 13 AS w,
         3 + doc_id % 7 AS h,
         16 + doc_id % 33 AS n,
         4 + doc_id % 9 AS vw,
         3 + doc_id % 5 AS vh,
         2 + doc_id % 4 AS nf
  FROM documents
)
SELECT doc_id AS media_id,
       CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE m
         WHEN 0 THEN 54 + h * ((3 * w + 3) // 4 * 4)
         WHEN 1 THEN 44 + 2 * n
         ELSE 224 + nf * (8 + vh * ((3 * vw + 3) // 4 * 4))
       END AS n_bytes,
       CASE WHEN m = 0 THEN w WHEN m = 2 THEN vw END AS width,
       CASE WHEN m = 0 THEN h WHEN m = 2 THEN vh END AS height,
       CASE WHEN m IN (0, 2) THEN 3 END AS n_channels,
       CASE WHEN m = 0 THEN round(list_aggregate(
         list_transform(range(w * h),
           i -> CAST((doc_id + (i % w) + 3 * (i // w)) % 256 AS DOUBLE)),
         'avg'), 6)
            WHEN m = 2 THEN round(list_aggregate(
         list_transform(range(vw * vh * nf),
           i -> CAST((doc_id + (i % vw) + 3 * ((i % (vw * vh)) // vw)
                      + 5 * (i // (vw * vh))) % 256 AS DOUBLE)),
         'avg'), 6) END AS mean_luma,
       CASE WHEN m = 1 THEN 8000 END AS sample_rate,
       CASE WHEN m = 1 THEN n END AS n_samples,
       CASE WHEN m = 1 THEN round(n * 1000.0 / 8000, 6)
            WHEN m = 2 THEN round(nf * 200.0, 6) END AS duration_ms,
       CASE WHEN m = 1 THEN round(sqrt(list_aggregate(
         list_transform(range(n),
           i -> CAST(((doc_id * 131 + i * 17) % 2001) - 1000 AS DOUBLE) ** 2),
         'avg')), 6) END AS rms,
       CASE WHEN m = 2 THEN nf END AS n_frames,
       CASE WHEN m = 2 THEN 5 END AS fps
FROM dims
"""


def media_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-grain video decode: every AVI frame parsed from the raw
    container payload (timestamp + mean luma per frame), checked
    against the oracle's arithmetic prediction of each frame's pixels
    — value-level proof the frame parser reads real payloads."""
    media = media_from_documents(spark, sf_dir)
    return sample_frames(media).select(
        "media_id",
        "frame_idx",
        F.round("frame_ts_ms", 6).alias("frame_ts_ms"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


MEDIA_FRAME_LUMA_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, 2 + doc_id % 4 AS nf
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM dims)
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_idx,
       round(CAST(f * 200.0 AS DOUBLE), 6) AS frame_ts_ms,
       round(list_aggregate(
         list_transform(range(w * h),
           i -> CAST((doc_id + (i % w) + 3 * (i // w) + 5 * f) % 256 AS DOUBLE)),
         'avg'), 6) AS mean_luma
FROM fr
"""


def media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp,
    duration from typed metadata (explode-by-timeline — SURVEY F12/J4
    applied to media)."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        _kind().alias("kind"),
        F.lit(None).cast("binary").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("n_chars") % 7 + 1) * 1000).cast("int").alias("duration_ms"),
            F.lit("x/video").alias("mime"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


MEDIA_FRAMES_SQL = """
SELECT doc_id AS media_id,
       unnest(range(0, (n_chars % 7 + 1) * 1000, 1000)) AS frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2
"""


def media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2× nearest-neighbor thumbnail pass over the image subset of the
    media corpus — REAL BMP pixel decode + stride sampling
    (operators/multimodal.resize_images), dedup-before-decode. The
    oracle regenerates the sampled pixel lattice arithmetically from
    the same deterministic pixel function, so dims, exact integer
    pixel sum, and derived mean all hash-match."""
    from data_migration_tool_spark.operators.multimodal import resize_images

    images = media_from_documents(spark, sf_dir).filter(F.col("kind") == "image")
    with cached(images) as media:
        return resize_images(media, factor=2).localCheckpoint(eager=True)


MEDIA_RESIZE_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id,
         (w + 1) // 2 AS w2, (h + 1) // 2 AS h2,
         list_transform(range(((w + 1) // 2) * ((h + 1) // 2)),
           i -> (doc_id + 2 * (i % ((w + 1) // 2))
                 + 3 * (2 * (i // ((w + 1) // 2)))) % 256) AS vals
  FROM dims
)
SELECT doc_id AS media_id,
       CAST(w2 AS INT) AS out_w,
       CAST(h2 AS INT) AS out_h,
       CAST(list_sum(vals) AS BIGINT) AS ds_pixel_sum,
       round(CAST(list_sum(vals) AS DOUBLE) / CAST(w2 * h2 AS DOUBLE), 6)
         AS ds_mean_luma
FROM px
"""


def media_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy over the WAV subset (8-sample windows) —
    REAL RIFF walk + int16 payload decode, frames exploded in the same
    Arrow pass. Integer sum-of-squares is exact; RMS derives from it,
    so the arithmetic oracle regenerating the synthetic PCM stream
    hash-matches every frame."""
    from data_migration_tool_spark.operators.multimodal import frame_audio

    audio = media_from_documents(spark, sf_dir).filter(F.col("kind") == "audio")
    with cached(audio) as media:
        return frame_audio(media, frame_size=8).localCheckpoint(eager=True)


MEDIA_AUDIO_FRAMES_SQL = """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 33 AS n
  FROM documents WHERE doc_id % 3 = 1
),
fr AS (
  SELECT doc_id, n, f
  FROM dims, unnest(range((n + 7) // 8)) AS u(f)
),
vals AS (
  SELECT doc_id, f,
         list_transform(range(f * 8, least(f * 8 + 8, n)),
           j -> CAST(((doc_id * 131 + j * 17) % 2001) - 1000 AS BIGINT)) AS s
  FROM fr
)
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_idx,
       CAST(len(s) AS INT) AS n_samples,
       CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sq_sum,
       round(sqrt(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE)
                  / CAST(len(s) AS DOUBLE)), 6) AS rms
FROM vals
"""


def _jpeg_decode_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """``media_jpeg_decode``'s frame BEFORE the eager materialize (see
    ``_feature_extract_pipeline`` — same plan-shape-test rationale).
    Returns (out, caches)."""
    from data_migration_tool_spark.operators.jpeg import encode_jpeg

    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                tiles = np.fromfunction(
                    lambda by, bx: (i * 37 + bx * 11 + by * 29) % 256, (2, 4)
                )
                px = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
                blobs.append(
                    encode_jpeg(
                        px.astype(np.uint8),
                        quality=100,
                        restart_interval=1 if i % 5 == 0 else 0,
                    )
                )
                ids.append(i)
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "content": blobs}
            )

    media = d.mapInPandas(enc, "media_id long, kind string, content binary")
    feats = extract_media_features(media)
    out = feats.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("mean_luma").cast("double").alias("mean_luma"),
    )
    return out, [media]


def media_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-container decode under the exact-hash gate (r9).

    Every document becomes a real baseline JPEG (the pure-numpy codec,
    ``operators/jpeg.py``): 32×16 grayscale, quality 100, one constant
    value per 8×8 tile, v(bx,by) = (doc_id·37 + bx·11 + by·29) % 256.
    At unit quantization a constant tile is DC-only and round-trips
    BIT-EXACTLY (the 4×2 tile grid still exercises differential-DC
    prediction, Huffman coding, and byte stuffing; every 5th image adds
    DRI/RST resync, which is lossless by construction), so the DuckDB
    oracle can predict the DECODED mean luma analytically: Σv/8, exact
    in double (denominator a power of two). Encoder, entropy decoder,
    and oracle are three independent code paths — a hash PASS certifies
    a genuine JPEG parse, not a shared stub. The lossy general case
    (gradients, noise, 4:2:0, low quality) is bounded in
    tests/test_jpeg.py; THIS query pins the exact lane officially.

    Scale shape: same as media_feature_extract — encode and decode are
    Arrow-batched mapInPandas stages; dedup-before-decode keys on the
    content hash so duplicate blobs decode once."""
    out, caches = _jpeg_decode_pipeline(spark, sf_dir)
    with cached(*caches):
        return out.localCheckpoint(eager=True)


MEDIA_JPEG_DECODE_SQL = """
WITH tiles AS (
  SELECT doc_id,
         (doc_id * 37 + bx * 11 + by * 29) % 256 AS v
  FROM documents, unnest(range(4)) AS tx(bx), unnest(range(2)) AS ty(by)
)
SELECT doc_id AS media_id,
       CAST(32 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / 8 AS mean_luma
FROM tiles
GROUP BY doc_id
"""


def media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS compressed-container decode under the exact-hash gate
    (r9, the stronger sibling of ``media_jpeg_decode``): every document
    becomes a real PNG (``operators/png.py`` — zlib inflate, chunk CRC
    verification, all five row filters in play via the encoder's
    min-SAD heuristic) of 24×16 grayscale pixels
    v(x,y) = (doc_id·31 + x·7 + y·13) % 256 — ARBITRARY per-pixel
    content, not constant tiles, because PNG round-trips bit-exactly by
    definition. The DuckDB oracle recomputes the decoded mean
    analytically: Σv / 384, one correctly-rounded double division of an
    exact integer sum on both engines. Grayscale deliberately: an RGB
    mean would fold Rec.601 float products in engine-specific order
    (the house float-aggregation rule); the RGB lane is pytest-pinned
    instead (tests/test_png.py).

    Scale shape: identical to the other media queries — Arrow-batched
    encode and decode stages, dedup-before-decode on content hash."""
    from data_migration_tool_spark.operators.png import encode_png

    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                y, x = np.mgrid[0:16, 0:24]
                px = ((i * 31 + x * 7 + y * 13) % 256).astype(np.uint8)
                blobs.append(encode_png(px))
                ids.append(i)
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "content": blobs}
            )

    encoded = d.mapInPandas(enc, "media_id long, kind string, content binary")
    with cached(encoded) as media:
        return extract_media_features(media).select(
            "media_id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("n_channels").cast("long").alias("n_channels"),
            F.col("mean_luma").cast("double").alias("mean_luma"),
        ).localCheckpoint(eager=True)


MEDIA_PNG_DECODE_SQL = """
WITH px AS (
  SELECT doc_id,
         (doc_id * 31 + x * 7 + y * 13) % 256 AS v
  FROM documents, unnest(range(24)) AS tx(x), unnest(range(16)) AS ty(y)
)
SELECT doc_id AS media_id,
       CAST(24 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / 384 AS mean_luma
FROM px
GROUP BY doc_id
"""


def _transcode_chain_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """``media_transcode_chain``'s frame BEFORE the eager materialize
    (see ``_feature_extract_pipeline`` — same plan-shape-test
    rationale). Returns (out, caches); callers own releasing the
    caches."""
    from data_migration_tool_spark.operators.multimodal import (
        transcode_images,
    )
    from data_migration_tool_spark.operators.png import encode_png

    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                y, x = np.mgrid[0:16, 0:24]
                px = ((i * 23 + x * 5 + y * 19) % 256).astype(np.uint8)
                blobs.append(encode_png(px))
                ids.append(i)
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "content": blobs}
            )

    # both chain stages are cached, in chain order: each is referenced
    # from two join sides by its consumer, and each reference would
    # otherwise re-run the full upstream codec chain (before-plan: 7
    # MapInPandas nodes / 4 source scans for this query).
    media = d.mapInPandas(enc, "media_id long, kind string, content binary")
    thumbs = transcode_images(media, factor=2, out_format="png").select(
        "media_id",
        F.lit("image").alias("kind"),
        F.col("out_content").alias("content"),
    )
    feats = extract_media_features(thumbs)
    out = feats.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("mean_luma").cast("double").alias("mean_luma"),
    )
    return out, [media, thumbs]


def media_transcode_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL image-preprocessing chain under the exact-hash gate
    (r9): encode PNG (24×16 grayscale, v(x,y) = (doc_id·23 + x·5 +
    y·19) % 256) → ``transcode_images`` (decode, 2×2 exact-integer
    block-mean downscale, re-encode PNG) → decode the TRANSCODED blob
    via the standard feature pipeline. Every stage is lossless or
    exact-integer (floor division), so the DuckDB oracle predicts the
    final decoded values of the 12×8 output analytically: group source
    pixels by (x div 2, y div 2), block value = SUM(v) // 4, mean =
    Σblocks / 96 — one correctly-rounded double division on both
    engines. A hash PASS certifies four real codec passes (encode,
    decode, re-encode, re-decode) plus the resize arithmetic, end to
    end.

    Scale shape: three Arrow-batched mapInPandas stages with
    dedup-before-work hash joins between them; per-distinct-blob cost,
    embarrassingly parallel."""
    out, caches = _transcode_chain_pipeline(spark, sf_dir)
    with cached(*caches):
        return out.localCheckpoint(eager=True)


def media_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed-color (palette) PNG decode under the exact-hash gate
    (r10 — the codec lane's declared final format, COVERAGE.md). Every
    document becomes a color-type-3 PNG: 20×12 indices
    i(x,y) = (doc_id·7 + x·3 + y·11) % 16 into a fixed 16-entry RGB
    palette pal[i] = ((i·37+11)%256, (i·59+3)%256, (i·83+7)%256) —
    distinct per-channel values so a decoder that ignored the PLTE
    lookup (or swapped channels) cannot pass. The decode stage reports
    EXACT integer per-channel sums over the decoded (H, W, 3) array;
    the DuckDB oracle recomputes them from the index formula + palette
    arithmetic — all-integer, so the gate is hash-exact with no float
    convention at all (the Rec.601 RGB mean is deliberately NOT used
    here: its per-pixel float fold is pytest-pinned, not oracle-pinned,
    per the house float-aggregation rule).

    Scale shape: two Arrow-batched mapInPandas stages (encode, decode)
    — per-distinct-blob cost, embarrassingly parallel."""
    from data_migration_tool_spark.operators.png import (
        decode_png,
        encode_png_palette,
    )

    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pal = np.stack(
            [
                np.array([(i * 37 + 11) % 256 for i in range(16)]),
                np.array([(i * 59 + 3) % 256 for i in range(16)]),
                np.array([(i * 83 + 7) % 256 for i in range(16)]),
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                y, x = np.mgrid[0:12, 0:20]
                idx = ((i * 7 + x * 3 + y * 11) % 16).astype(np.uint8)
                blobs.append(encode_png_palette(idx, pal))
                ids.append(i)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            recs = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                px = decode_png(bytes(blob))
                if px is None or px.ndim != 3:
                    recs.append((int(mid), None, None, None, None, None))
                    continue
                s = px.astype(np.int64).sum(axis=(0, 1))
                recs.append(
                    (
                        int(mid), int(px.shape[1]), int(px.shape[0]),
                        int(s[0]), int(s[1]), int(s[2]),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id", "width", "height", "sum_r", "sum_g", "sum_b",
                ],
            )

    media = d.mapInPandas(enc, "media_id long, content binary")
    return media.mapInPandas(
        dec,
        "media_id long, width long, height long, "
        "sum_r long, sum_g long, sum_b long",
    )


MEDIA_PNG_PALETTE_SQL = """
WITH px AS (
  SELECT doc_id,
         (doc_id * 7 + x * 3 + y * 11) % 16 AS i
  FROM documents, unnest(range(20)) AS tx(x), unnest(range(12)) AS ty(y)
)
SELECT doc_id AS media_id,
       CAST(20 AS BIGINT) AS width,
       CAST(12 AS BIGINT) AS height,
       CAST(SUM((i * 37 + 11) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((i * 59 + 3) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((i * 83 + 7) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id
"""


def media_transcode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JPEG re-encode leg of ``transcode_images`` under the
    exact-hash gate (r10 — VERDICT r9 named this the round's one
    untested branch). Mirror of ``media_transcode_chain``'s PNG leg:
    encode PNG (48×32 grayscale, a 3×2 grid of 16×16 CONSTANT tiles,
    v(bx,by) = (doc_id·41 + bx·13 + by·17) % 256) →
    ``transcode_images(factor=2, out_format="jpeg",
    jpeg_quality=100)`` → decode the TRANSCODED blob via the standard
    feature pipeline. The 16×16-constant source tiles make the
    factor-2 block-mean downscale produce 8×8-CONSTANT blocks (mean of
    a constant is the constant), so the q100 (unit-quantization) JPEG
    encode leg is bit-exact — same trick as ``media_jpeg_decode`` —
    and the DuckDB oracle predicts the final decoded 24×16 thumb
    analytically: mean = Σ(v·64)/384, one correctly-rounded double
    division of an exact integer on both engines. A hash PASS pins
    decode → downscale → **encode_jpeg** → entropy-decode end to end,
    the mirror certification of the chain's PNG leg.

    Scale shape: identical to media_transcode_chain — three
    Arrow-batched mapInPandas stages, dedup-before-work hash joins,
    per-distinct-blob cost."""
    from data_migration_tool_spark.operators.multimodal import (
        transcode_images,
    )
    from data_migration_tool_spark.operators.png import encode_png

    d = _spread_seed(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                tiles = np.fromfunction(
                    lambda by, bx: (i * 41 + bx * 13 + by * 17) % 256, (2, 3)
                )
                px = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)
                blobs.append(encode_png(px.astype(np.uint8)))
                ids.append(i)
            yield pd.DataFrame(
                {"media_id": ids, "kind": ["image"] * len(ids), "content": blobs}
            )

    # both chain stages cached, as in media_transcode_chain
    encoded = d.mapInPandas(enc, "media_id long, kind string, content binary")
    with cached(encoded) as media, cached(
        transcode_images(
            media, factor=2, out_format="jpeg", jpeg_quality=100
        ).select(
            "media_id",
            F.lit("image").alias("kind"),
            F.col("out_content").alias("content"),
        )
    ) as thumbs:
        return extract_media_features(thumbs).select(
            "media_id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("n_channels").cast("long").alias("n_channels"),
            F.col("mean_luma").cast("double").alias("mean_luma"),
        ).localCheckpoint(eager=True)


MEDIA_TRANSCODE_JPEG_SQL = """
WITH tiles AS (
  SELECT doc_id,
         (doc_id * 41 + bx * 13 + by * 17) % 256 AS v
  FROM documents, unnest(range(3)) AS tx(bx), unnest(range(2)) AS ty(by)
)
SELECT doc_id AS media_id,
       CAST(24 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(CAST(SUM(v) * 64 AS BIGINT) AS DOUBLE) / 384 AS mean_luma
FROM tiles
GROUP BY doc_id
"""


MEDIA_TRANSCODE_CHAIN_SQL = """
WITH px AS (
  SELECT doc_id, x, y,
         (doc_id * 23 + x * 5 + y * 19) % 256 AS v
  FROM documents, unnest(range(24)) AS tx(x), unnest(range(16)) AS ty(y)
),
blocks AS (
  SELECT doc_id, x // 2 AS bx, y // 2 AS by, SUM(v) // 4 AS bv
  FROM px GROUP BY doc_id, x // 2, y // 2
)
SELECT doc_id AS media_id,
       CAST(12 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(CAST(SUM(bv) AS BIGINT) AS DOUBLE) / 96 AS mean_luma
FROM blocks
GROUP BY doc_id
"""


def media_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup pairs — the codec lane composed
    with the dedup lane (r10). Every document becomes a real 36×16 BMP
    whose pixels are constant over 4×2 tiles, keyed by a GROUP id
    g = doc_id % 100 (so each group's members are near-identical
    images) with a one-tile perturbation on odd doc_ids (so intra-group
    pairs land at Hamming 0 or 1, never more). Tile values are
    md5-mixed — v = first byte of md5("g-bx-by") — so group signatures
    are uniform over the 64-bit dHash space and cross-group Hamming-≤1
    collisions are ~2^-58-rare at ANY group count (an earlier
    polynomial-formula fixture saturated: its smooth-gradient dHash
    patterns collided across groups once G reached ~10^4, inflating
    the sf1 pair count 3.5× over the planted volume — md5 mixing
    removed every cross pair). The group count derives from the corpus
    (≈5 docs per group at every SF, one metadata-grain count), so
    planted-pair volume stays LINEAR in corpus size by construction.
    The pipeline is the REAL one a vision
    corpus would run: decode container → exact integer tile means →
    64-bit dHash (``operators/multimodal.dhash_images``) → band-blocked
    Hamming pair join (``operators/dedup.hamming_near_dup_pairs``,
    4×16-bit bands, pigeonhole-exact at max_hamming=1). The DuckDB
    oracle recomputes the dHash analytically from the tile formula
    (blocks are constant, so tile mean = tile value) and replicates the
    banding arithmetic — encoder, decoder+hasher, and oracle are three
    independent code paths.

    Scale shape: per-DISTINCT-image decode+hash (Arrow-batched,
    dedup-before-decode), then the banded self-join carries 8-byte
    signatures only — Σ bucket² bounded by 2^16 band spreading; the
    hot-bucket valve pattern applies unchanged if a real corpus plants
    a boilerplate image."""
    from data_migration_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )
    from data_migration_tool_spark.operators.multimodal import dhash_images

    # the band self-join references the signature frame twice, and each
    # reference would otherwise re-run the whole encode+decode+hash
    # pipeline. The signature cache is (media_id, dhash), 16 bytes per
    # image.
    with cached(_phash_corpus(spark, sf_dir)) as media, cached(
        dhash_images(media, grid_w=8, grid_h=8)
    ) as sigs:
        return hamming_near_dup_pairs(
            sigs,
            id_col="media_id",
            sig_col="dhash",
            bits=64,
            bands=4,
            max_hamming=1,
        ).localCheckpoint(eager=True)


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted near-dup image corpus shared by the phash gate
    queries: one 36×16 BMP per document, pixels constant over 4×2
    tiles, tile values md5-mixed per (group, bx, by) with the odd-doc
    one-tile perturbation (see ``media_phash_near_dups``)."""
    base = load_table(spark, sf_dir, "documents").select("doc_id")
    n_groups = max(base.count() // 5, 1)
    d = _spread_seed(base)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                g = i % n_groups
                tile = {}
                for by in range(8):
                    for bx in range(9):
                        v = int(
                            hashlib.md5(
                                f"{g}-{bx}-{by}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        if i % 2 == 1 and bx == 0 and by == 0:
                            v = (v + 100) % 256
                        tile[(bx, by)] = v

                def fn(x: int, y: int, tile: dict = tile) -> int:
                    return tile[(x // 4, y // 2)]

                blobs.append(encode_bmp(36, 16, fn))
                ids.append(i)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return d.mapInPandas(enc, "media_id long, content binary")


def media_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL image dedup (r10): near-dup pairs for "today's
    batch" of images (media_id % 7 == 0) against the standing corpus's
    STORED dHash band index — decode and hashing run on the batch
    only; the standing corpus participates solely as its persisted
    8-byte-signature index and its images are never re-read (the
    signature rides IN the index, so even verification needs zero
    corpus scans — stronger than the MinHash twin
    ``doc_lsh_incremental``, whose Jaccard verify re-shingles
    candidate-touched documents). Provably equal to the full-corpus
    phash run restricted to pairs touching the batch (band values are
    per-image pure functions + pigeonhole-lossless blocking), which is
    exactly what the oracle computes. See
    ``operators/dedup.hamming_near_dups_incremental``."""
    from data_migration_tool_spark.operators import dedup as DD
    from data_migration_tool_spark.operators.multimodal import dhash_images

    # the batch/standing filters are two references of the same Python
    # encode stage — uncached it would synthesize every blob twice. The
    # batch signature frame is likewise referenced twice inside the
    # incremental join (new×index ∪ new×new).
    with cached(_phash_corpus(spark, sf_dir)) as media, cached(
        dhash_images(media.filter(F.col("media_id") % 7 == 0))
    ) as batch_sigs:
        idx = DD.hamming_index(
            dhash_images(media.filter(F.col("media_id") % 7 != 0)),
            id_col="media_id",
            sig_col="dhash",
            bits=64,
            bands=4,
        )
        return DD.hamming_near_dups_incremental(
            batch_sigs,
            idx,
            id_col="media_id",
            sig_col="dhash",
            bits=64,
            bands=4,
            max_hamming=1,
        ).localCheckpoint(eager=True)


MEDIA_PHASH_NEAR_DUPS_SQL = """
WITH n AS (
  SELECT GREATEST(COUNT(*) // 5, 1) AS ng FROM documents
),
grid AS (
  SELECT doc_id, bx, by,
         (CAST(concat('0x', substr(
            md5(concat(doc_id % ng, '-', bx, '-', by)), 1, 2)) AS INTEGER)
          + CASE WHEN doc_id % 2 = 1 AND bx = 0 AND by = 0
                 THEN 100 ELSE 0 END
         ) % 256 AS v
  FROM documents, n, unnest(range(9)) AS tx(bx), unnest(range(8)) AS ty(by)
),
bits AS (
  SELECT l.doc_id, l.by * 8 + l.bx AS k,
         CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
  FROM grid l
  JOIN grid r ON l.doc_id = r.doc_id AND l.by = r.by AND r.bx = l.bx + 1
  WHERE l.bx < 8
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN k < 63 THEN bit * (1::BIGINT << k)
                       ELSE 0 END) AS BIGINT)
         + CASE WHEN MAX(CASE WHEN k = 63 THEN bit ELSE 0 END) = 1
                THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                ELSE 0 END AS dhash
  FROM bits GROUP BY doc_id
),
banded AS (
  SELECT doc_id, dhash, bi, (dhash >> (bi * 16)) & 65535 AS bv
  FROM sig, unnest([0, 1, 2, 3]) AS u(bi)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.dhash AS sa, b.dhash AS sb
  FROM banded a
  JOIN banded b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 1
"""


# same pair derivation, restricted to pairs touching "today's batch" —
# the exactness contract of the incremental index path
MEDIA_PHASH_INCREMENTAL_SQL = (
    MEDIA_PHASH_NEAR_DUPS_SQL + "  AND (id_a % 7 = 0 OR id_b % 7 = 0)\n"
)


def media_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-cut detection over the REAL AVI corpus (r10): consecutive-
    frame integer SAD computed inside the decode's Arrow pass
    (``operators/multimodal.scene_changes`` — frame pairs never leave
    the blob's task, zero pixel shuffles), flagged against a fixed
    threshold. The oracle predicts every SAD arithmetically from the
    frame pixel formula (per-pixel |Δ| is 5 or 251 depending on the
    mod-256 wrap), so a hash PASS pins the payload walk, the
    consecutive-frame pairing, AND the cut flag."""
    from data_migration_tool_spark.operators.multimodal import (
        scene_changes,
    )

    media = media_from_documents(spark, sf_dir)
    return scene_changes(media, threshold=1000).select(
        "media_id",
        "frame_idx",
        "sad",
        "is_cut",
    )


MEDIA_SCENE_CHANGES_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
         2 + doc_id % 4 AS nf
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id, w, h, f
  FROM dims, unnest(range(1, nf)) AS u(f)
),
sad AS (
  SELECT doc_id, f,
         3 * list_sum(list_transform(range(w * h),
             i -> abs(((doc_id + (i % w) + 3 * (i // w) + 5 * f) % 256)
                    - ((doc_id + (i % w) + 3 * (i // w) + 5 * (f - 1)) % 256)
             ))) AS s
  FROM fr
)
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_idx,
       CAST(s AS BIGINT) AS sad,
       s > 1000 AS is_cut
FROM sad
"""


def media_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over the REAL WAV corpus (r10):
    framed energies (``frame_audio``, 8-sample windows, exact integer
    sum-of-squares) thresholded by exact cross-multiplication and
    collapsed to segments by gaps-and-islands
    (``operators/multimodal.vad_segments``). The oracle regenerates
    the synthetic PCM stream, the same integer threshold, and the same
    islands arithmetic — window function against window function, all
    integers, so segment bounds, frame counts, and summed energies all
    hash-match."""
    from data_migration_tool_spark.operators.multimodal import (
        frame_audio,
        vad_segments,
    )

    audio = media_from_documents(spark, sf_dir).filter(F.col("kind") == "audio")
    with cached(audio) as media:
        frames = frame_audio(media, frame_size=8)
        return vad_segments(
            frames, energy_num=400_000, energy_den=1
        ).localCheckpoint(eager=True)


MEDIA_VAD_SEGMENTS_SQL = """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 33 AS n
  FROM documents WHERE doc_id % 3 = 1
),
fr AS (
  SELECT doc_id, n, f
  FROM dims, unnest(range((n + 7) // 8)) AS u(f)
),
vals AS (
  SELECT doc_id, f,
         list_transform(range(f * 8, least(f * 8 + 8, n)),
           j -> CAST(((doc_id * 131 + j * 17) % 2001) - 1000 AS BIGINT)) AS s
  FROM fr
),
energy AS (
  SELECT doc_id, f,
         len(s) AS n_samples,
         CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sq_sum
  FROM vals
),
active AS (
  SELECT doc_id, f, sq_sum,
         f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS island
  FROM energy
  WHERE sq_sum * 1 > n_samples * 400000
)
SELECT doc_id AS media_id,
       CAST(MIN(f) AS INT) AS seg_start,
       CAST(MAX(f) AS INT) AS seg_end,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(sq_sum) AS BIGINT) AS total_sq
FROM active
GROUP BY doc_id, island
"""


def media_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal ingest under the exact-hash gate:
    the media corpus lands as parquet blob files and a Structured
    Streaming query decodes it micro-batch by micro-batch —
    ``readStream(maxFilesPerTrigger=1)`` → ``foreachBatch``
    (``extract_media_features`` → the replay-idempotent exactly-once
    append sink, ``streaming/txn_sink.py``) — the continuous-crawl
    ingest shape of a vision/audio data pipeline. Three staged files
    force three real micro-batches, so per-batch dedup-before-decode
    and the batch_id-partitioned idempotent append are exercised, and
    the drained union must equal the BATCH decode oracle
    (``MEDIA_FEATURES_SQL``) value-exactly.

    At 100 TB: the file source lists incrementally (only new blob
    files per batch), decode state is ZERO (stateless foreachBatch —
    each batch decodes and appends, nothing carries over), the sink
    converges to exactly-once on a plain filesystem under replay, and
    the per-batch decode inherits the lane's dedup-before-decode and
    pinned-parallelism shape."""
    import os

    from data_migration_tool_spark.streaming.file_stream import (
        drain,
        stream_scratch,
    )
    from data_migration_tool_spark.streaming.txn_sink import (
        append_batch_idempotent,
        read_appended,
    )

    media = media_from_documents(spark, sf_dir)
    with stream_scratch() as (work, landing):
        # landing/ already exists, empty: overwrite writes into it
        media.repartition(3).write.mode("overwrite").parquet(landing)
        schema, _ = parquet_schema(spark, landing)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        out = os.path.join(work, "out")

        def _decode(batch_df: DataFrame, batch_id: int) -> None:
            feats = extract_media_features(batch_df).select(
                "media_id",
                "kind",
                "n_bytes",
                F.col("width").cast("long").alias("width"),
                F.col("height").cast("long").alias("height"),
                F.col("n_channels").cast("long").alias("n_channels"),
                F.round("mean_luma", 6).alias("mean_luma"),
                F.col("sample_rate").cast("long").alias("sample_rate"),
                F.col("n_samples").cast("long").alias("n_samples"),
                F.round("duration_ms", 6).alias("duration_ms"),
                F.round("rms", 6).alias("rms"),
                F.col("n_frames").cast("long").alias("n_frames"),
                F.col("fps").cast("long").alias("fps"),
            )
            append_batch_idempotent(feats, batch_id, out)

        drain(stream, "media_stream_decode", work, landing, foreach_batch=_decode)
        # Materialize the drained sink into Spark storage before the
        # scratch dir (a full parquet copy of the media corpus) goes.
        return read_appended(spark, out).drop("batch_id").localCheckpoint(eager=True)
