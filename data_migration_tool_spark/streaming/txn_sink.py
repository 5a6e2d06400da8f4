"""Exactly-once APPEND to plain parquet from a stream — the write-side
twin of the CDC merge (SURVEY §2.9 ST4): CDC makes upserts replay-safe
via latest-wins; this makes plain appends replay-safe via per-batch
directories.

The problem: ``foreachBatch`` + ``mode("append")`` duplicates rows when
a batch replays after a crash (the checkpoint marks a batch complete
only AFTER the user function returns — the write can land twice). The
fix needs no transaction log: every micro-batch writes to its OWN
partition directory ``batch_id=N`` with ``mode("overwrite")``. Spark's
checkpoint guarantees batch N replays with identical content, so a
replayed write simply rewrites the same directory — the sink converges
to exactly-once output under any crash/replay interleaving.

A stream uses the sink as the ``foreach_batch`` body of
``file_stream.drain``, the one AvailableNow drain harness::

    drain(stream, name, work, landing,
          foreach_batch=lambda df, b: append_batch_idempotent(df, b, target))

A committed-marker file (``_manifest/N``) short-circuits replays of
already-durable batches (skip the rewrite cost); correctness never
depends on it — the overwrite alone is idempotent. The marker is
written AFTER the data (write-ahead would claim durability the data
doesn't have yet).

At 100 TB/day: each batch directory is batch-sized; the ``batch_id``
partition column doubles as ingestion lineage (which batch produced
which rows) and enables trivially parallel retention deletes. Readers
``spark.read.parquet(target)`` and get the partition column for free.
With Delta/Iceberg the same body collapses to a transactional append —
this module is the plain-filesystem fallback, exactly like the
reference's GCS-landed loads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _is_local_dir(path: str) -> bool:
    """True iff ``path`` addresses the driver-local filesystem.

    The committed markers are written with driver-local ``os`` calls
    while the data goes through Spark writers; with an ``hdfs://`` /
    ``s3a://`` / ``gs://`` target the two would live on DIFFERENT
    filesystems — correctness survives (the per-batch overwrite is
    idempotent) but the replay short-circuit would silently no-op, and
    worse, a stale local marker from a previous run could skip a write
    whose data directory lives elsewhere. So markers are only used for
    genuinely local targets; remote targets rely on the overwrite
    alone (or a lakehouse table format, which replaces this module)."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme in ("", "file")


def _local_fs_path(path: str) -> str:
    """Strip a ``file://`` scheme so driver-side ``os`` calls see the
    plain filesystem path Spark's writer resolves the URI to."""
    return path[len("file://"):] if path.startswith("file://") else path


def append_batch_idempotent(
    df: DataFrame, batch_id: int, target_dir: str
) -> bool:
    """The ``foreachBatch`` body: write ``df`` under
    ``target_dir/batch_id=N`` (overwrite → replay-idempotent), then
    mark the batch committed. Returns False when the batch was already
    committed (replay short-circuit), True when data was written.

    Non-local ``target_dir`` (any non-``file`` URI scheme): the marker
    optimization is disabled — see ``_is_local_dir`` — and every call
    (re)writes its batch directory, which is still exactly-once."""
    use_markers = _is_local_dir(target_dir)
    marker_dir = os.path.join(_local_fs_path(target_dir), "_manifest")
    marker = os.path.join(marker_dir, str(batch_id))
    if use_markers and os.path.exists(marker):
        return False
    df.write.mode("overwrite").parquet(
        os.path.join(target_dir, f"batch_id={batch_id}")
    )
    if use_markers:
        os.makedirs(marker_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("committed")
        os.replace(tmp, marker)  # atomic on POSIX — no torn markers
    return True


def read_appended(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the sink's committed output: the batch_id=N partition
    directories (parquet partition discovery picks up ``batch_id`` as
    a column; the non-data ``_manifest`` directory is ignored by the
    underscore convention)."""
    return spark.read.parquet(target_dir)
