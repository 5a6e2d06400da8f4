"""The fixed costs ``session.py`` removes: a Python task re-reads no zip
archive that has not changed, and a PySpark Column call on the driver
captures no call site (no extra py4j round trips)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from py4j.clientserver import ClientServerConnection

import data_migration_tool_spark.session  # noqa: F401  (installs the zip guard)
from data_migration_tool_spark.operators.validation import ValidationSpec, row_validation


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_zip_archive_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` re-reads an unchanged archive 0
    times once settled; a rewritten archive (new size) is re-read by the
    next invalidate and its new module imports."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"dmt_zipguard_a": "X = 1\n"})
    reads = []
    eager_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return eager_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("dmt_zipguard_a").X == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        importlib.invalidate_caches()  # the first settle may read
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"dmt_zipguard_a": "X = 1\n", "dmt_zipguard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("dmt_zipguard_b").Y == 2
    finally:
        for name in ("dmt_zipguard_a", "dmt_zipguard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_python_task_rereads_no_unchanged_archive(spark):
    """Inside a Python worker that imported the package, a task-start
    ``invalidate_caches()`` reads none of the worker's zip archives
    (pyspark.zip, spark-core's jar) once they are settled."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import data_migration_tool_spark  # noqa: F401

        reads = [0]
        eager_read = zipimport._read_directory

        def counting_read(path):
            reads[0] += 1
            return eager_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
            reads[0] = 0
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = eager_read
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "reads": [reads[0]]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "importers long, reads long")
        .first()
    )
    assert row["importers"] > 0
    assert row["reads"] == 0


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """Building a row validation (no collect) costs a fraction of the py4j
    round trips it costs with call-site capture on."""
    import pyspark.errors.utils as pyspark_error_utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    src = spark.createDataFrame([(1, "x"), (2, "y")], "pk int, v string")
    tgt = spark.createDataFrame([(1, "x"), (3, "z")], "pk int, v string")
    spec = ValidationSpec(primary_keys=["pk"], hash_cols=["*"])
    calls = [0]
    send = ClientServerConnection.send_command

    def counting_send(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    def build_calls() -> int:
        calls[0] = 0
        monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
        try:
            row_validation(src, tgt, spec)
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)
        return calls[0]

    lean = build_calls()
    monkeypatch.setattr(pyspark_error_utils, "_enable_debugging_cache", True)
    capturing = build_calls()
    assert lean > 0
    assert capturing >= 3 * lean, (lean, capturing)

