"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to BigQuery; here the SparkSession *is*
the warehouse. Config notes (scale rationale):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace the reference's static
  ``batchDistribution`` throttles.
- ``spark.sql.shuffle.partitions`` defaults to 2-4x cores locally; on a
  1000-executor cluster AQE coalesces from a high initial number, so the
  setting is a ceiling, not a hand-tuned constant.
- Arrow enabled for every pandas interchange (Pandas UDFs are the only
  sanctioned Python-side path; row-at-a-time UDFs are banned in this
  codebase).

Two fixed costs are removed here, because this module is
imported in every process that runs package code: the driver, and each
Python worker (unpickling a package kernel imports the package, whose
``__init__`` imports this module).

- A Python task re-reads no zip archive that has not changed.
  PySpark's worker calls ``importlib.invalidate_caches()`` at the start
  of every task; on a CPython whose ``zipimport`` reads eagerly, each
  ``zipimporter`` then re-reads its whole archive directory (pyspark.zip
  and spark-core's jar lead a worker's ``sys.path``: ~0.12 s per task).
  ``_install_zip_guard`` makes an importer re-read its archive only
  when the archive's ``(st_mtime_ns, st_size)`` differs from the last
  read, so every change to an archive is still seen. CPython's lazy
  zipimport (3.13+, ``zipimporter._get_files``) needs no guard.
- A PySpark Column or ``functions`` call captures no call site on the
  driver: ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``
  in ``_BASE_CONF``. With it on, each call pays 4-5 py4j round trips
  (active session, JVM class lookup, conf read, origin set and clear) so
  that an analysis error can name the Python line that built the
  expression. Pass it as ``"true"`` through ``extra`` to get that
  context back while debugging.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def _install_zip_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that an importer re-reads
    its archive only when the archive's ``(st_mtime_ns, st_size)``
    changed since that importer last read it. Idempotent; a no-op where
    zipimport is already lazy."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls, "_dmt_eager_invalidate"):
        return
    eager = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # stat before the read: a change racing the read shows up as a
        # new stamp on the next call, never as a missed one
        if stamp is not None and getattr(self, "_dmt_read_stamp", None) == stamp:
            return
        eager(self)
        self._dmt_read_stamp = stamp

    cls._dmt_eager_invalidate = eager
    cls.invalidate_caches = invalidate_caches


_install_zip_guard()

# Defaults chosen for local[32] testing; override any of them via the
# ``extra`` dict or real spark-submit conf on a cluster.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # read INT64(TIMESTAMP_NANOS) parquet columns as long; tables.load_table
    # converts them to micros timestamps (Spark has no nanos timestamp type)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # long-lived drivers: ContextCleaner frees superseded localCheckpoint
    # blocks only after a JVM GC; force one at least every 5 min so block
    # storage tracks live state, not allocation history (see SCALE.md)
    "spark.cleaner.periodicGC.interval": "5min",
    "spark.ui.enabled": "false",
    # no call-site capture per Column/functions call (see module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.warehouse.dir": "/tmp/dmt-spark-warehouse",
}


def get_spark(
    app_name: str = "data-migration-tool-spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default *).
    On a real cluster pass ``master=None`` with an externally configured
    session — ``getOrCreate`` reuses it without clobbering cluster conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
