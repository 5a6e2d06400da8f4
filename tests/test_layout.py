"""Package layout invariants, checked on the source with ``ast``.

Reachability: every package module is imported by another package
module, the benchmark (``perfbench/``, ``bench.py``), the entry point
``__spark_entry__.py`` or ``tools/``. A module that only tests import
is code no lane, pipeline or tool runs. The exceptions are the SURVEY
entry points below.

Name reachability: every top-level name a package module defines is
referred to outside ``tests/`` (by another top-level statement), except
the SURVEY steps and test fixtures below.

Layering: ``plans/`` is the top layer, so no package module outside it
imports ``plans``.

One cache mechanism: only ``partitioning.py`` (its ``cached`` scope)
calls ``persist``, ``cache`` or ``unpersist``.
"""

from __future__ import annotations

import ast
import os
import pathlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_migration_tool_spark"
REACH_ROOTS = (PKG, "perfbench", "tools", "bench.py", "__spark_entry__.py")

# Modules that no lane or pipeline imports, kept because a SURVEY step
# names them (module → SURVEY id).
SURVEY_ENTRY_POINTS = {
    "extract/jdbc.py": "S8-S10",
    "operators/spec.py": "S2",
    "streaming/cdc.py": "ST4",
    "sources/bucketing.py": "§4.1",
}


# Top-level package names that nothing outside tests/ refers to, kept
# because a SURVEY step names them (``path:name`` → SURVEY id) or tests
# build their inputs with them ("test fixture").
UNREFERENCED_NAMES = {
    "audit/queries.py:affected_tables_from_copy_status": "§2",
    "audit/queries.py:clustering_columns": "§2",
    "audit/queries.py:dvt_passed_tables": "§2",
    "audit/queries.py:files_in_window": "§2",
    "audit/queries.py:latest_pass_copies": "§2",
    "audit/queries.py:schema_strings": "§2",
    "extract/jdbc.py:find_local_driver_jar": "S8-S10",
    "extract/jdbc.py:read_catalog": "S8-S10",
    "extract/jdbc.py:read_table_incremental": "S8-S10",
    "operators/multimodal.py:synthetic_media": "test fixture",
    "operators/spec.py:parse_spec_file": "S2",
    "operators/validation.py:RESULT_COLUMNS": "A6",
    "orchestrate/controller.py:decode_event_payload": "F11",
    "orchestrate/pipelines.py:transfer_log_pipeline": "ST5",
    "sources/avro_fallback.py:write_avro": "test fixture",
    "sources/bucketing.py:bucket_spec": "§4.1",
    "sources/bucketing.py:write_bucketed": "§4.1",
    "streaming/cdc.py:apply_cdc_stream": "ST4",
    "streaming/file_stream.py:deduped_stream": "ST4",
    "streaming/file_stream.py:watch_config_dir": "ST1",
    "tables.py:register_tables": "test fixture",
    "translate/dryrun.py:dry_run_file": "§7.2",
    "translate/report.py:pattern_predicate": "P10",
    "translate/statements.py:find_created_tables": "P5",
}

CACHE_CALLS = ("persist", "cache", "unpersist")


def _module(rel: str) -> str:
    name = rel[: -len(".py")].replace("/", ".")
    return name.removesuffix(".__init__")


def _imports(rel: str, source: str) -> list[tuple[int, str]]:
    """``(line, dotted name)`` of everything ``source`` imports: each
    ``import a.b``, and for ``from a import b`` both ``a`` and ``a.b``
    (``b`` may be a module). Relative imports resolve against ``rel``."""
    name = _module(rel)
    package = name if rel.endswith("__init__.py") else name.rpartition(".")[0]
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            out += [(node.lineno, base)] + [(node.lineno, f"{base}.{a.name}") for a in node.names]
    return out


def _sources(*tops: str) -> dict[str, str]:
    """Repo-relative path → source of every ``.py`` file under ``tops``."""
    files = []
    for top in tops:
        path = os.path.join(ROOT, top)
        files += [path] if path.endswith(".py") else [
            os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns if n.endswith(".py")
        ]
    return {os.path.relpath(f, ROOT).replace(os.sep, "/"): pathlib.Path(f).read_text() for f in files}


def _unreached(sources: dict[str, str]) -> list[str]:
    """Package modules (``__init__`` aside) that no other file imports."""
    importers: dict[str, set[str]] = {}
    for rel, src in sources.items():
        for _, name in _imports(rel, src):
            importers.setdefault(name, set()).add(rel)
    return sorted(
        rel for rel in sources
        if rel.startswith(PKG + "/") and not rel.endswith("__init__.py")
        and not importers.get(_module(rel), set()) - {rel}
    )


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement binds: a def, a class or an
    assignment's targets (dunder names aside)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _referred(stmt: ast.stmt) -> set[str]:
    """Names a statement refers to: loaded names, attributes, imported
    names and identifier-shaped string constants (``getattr`` keys)."""
    out = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _unreferenced_names(sources: dict[str, str]) -> list[str]:
    """``path:name`` of each top-level package name that no other
    top-level statement of ``sources`` refers to."""
    defs, users = [], {}
    for rel, src in sources.items():
        for i, stmt in enumerate(ast.parse(src).body):
            if rel.startswith(PKG + "/"):
                defs += [(rel, name, i) for name in _defined(stmt)]
            for name in _referred(stmt):
                users.setdefault(name, set()).add((rel, i))
    return sorted(
        f"{rel.removeprefix(PKG + '/')}:{name}"
        for rel, name, i in defs
        if not users.get(name, set()) - {(rel, i)}
    )


def _cache_calls(sources: dict[str, str]) -> list[str]:
    """``path:line`` of each ``.persist(``/``.cache(``/``.unpersist(``
    call in a package module other than ``partitioning.py``."""
    return [
        f"{rel.removeprefix(PKG + '/')}:{line}"
        for rel, src in sorted(sources.items())
        if rel.startswith(PKG + "/") and rel != f"{PKG}/partitioning.py"
        for line in sorted(
            node.lineno
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in CACHE_CALLS
        )
    ]


def _upward_imports(sources: dict[str, str]) -> list[str]:
    """``path:line`` of each import of ``plans`` by a package module
    outside ``plans/``."""
    plans = f"{PKG}.plans"
    return [
        f"{rel.removeprefix(PKG + '/')}:{line}"
        for rel, src in sources.items()
        if rel.startswith(PKG + "/") and not rel.startswith(f"{PKG}/plans/")
        for line in sorted({
            line for line, name in _imports(rel, src)
            if name == plans or name.startswith(plans + ".")
        })
    ]


def test_every_package_module_is_reached():
    # positive control: an orphan and a module only itself imports are
    # caught; absolute, from-package and relative imports all reach
    assert _unreached({
        f"{PKG}/x/__init__.py": "",
        f"{PKG}/x/used.py": "from .rel import f",
        f"{PKG}/x/rel.py": "",
        f"{PKG}/x/deep.py": "",
        f"{PKG}/x/orphan.py": f"from {PKG}.x import used",
        f"{PKG}/x/self_only.py": f"import {PKG}.x.self_only",
        "bench.py": f"from {PKG}.x import used\nimport {PKG}.x.deep",
    }) == [f"{PKG}/x/orphan.py", f"{PKG}/x/self_only.py"]

    got = [rel.removeprefix(PKG + "/") for rel in _unreached(_sources(*REACH_ROOTS))]
    assert got == sorted(SURVEY_ENTRY_POINTS), (
        "package modules no package module, benchmark, entry point or tool "
        f"imports (delete them, or name their SURVEY step in SURVEY_ENTRY_POINTS): {got}"
    )


def test_no_package_module_below_plans_imports_plans():
    # positive control: absolute, from-package and relative forms
    assert _upward_imports({
        f"{PKG}/streaming/s.py": f"import os\nfrom {PKG}.plans.textq import f\n",
        f"{PKG}/sources/t.py": "def f():\n    from ..plans import registry\n",
        f"{PKG}/audit/u.py": f"from {PKG} import plans\n",
        f"{PKG}/plans/p.py": f"from {PKG}.plans import textq\n",
    }) == ["streaming/s.py:2", "sources/t.py:2", "audit/u.py:1"]

    bad = _upward_imports(_sources(PKG))
    assert not bad, "package modules outside plans/ that import plans: " + ", ".join(bad)


def test_every_package_name_is_referenced():
    # positive control: a name nothing refers to (as if only tests did)
    # or only its own body uses is caught; a call, an import, an
    # attribute and a getattr key all count
    assert _unreferenced_names({
        f"{PKG}/m.py": (
            "import os\n"
            "def used(): pass\n"
            "def by_attr(): pass\n"
            "def by_key(): pass\n"
            "def only_self(): return only_self()\n"
            "def only_tests(): pass\n"
            "CONST = 1\n"
            "def run(): return used(), CONST\n"
        ),
        f"{PKG}/n.py": f"from {PKG}.m import run\nimport {PKG}.m as m\nm.by_attr\ngetattr(m, 'by_key')\n",
    }) == ["m.py:only_self", "m.py:only_tests"]

    got = _unreferenced_names(_sources(*REACH_ROOTS))
    assert got == sorted(UNREFERENCED_NAMES), (
        "package names nothing outside tests/ refers to (delete them, or "
        "name their SURVEY step in UNREFERENCED_NAMES): "
        f"{sorted(set(got) - set(UNREFERENCED_NAMES))}; allowlisted but "
        f"referenced or gone: {sorted(set(UNREFERENCED_NAMES) - set(got))}"
    )


def test_only_the_cache_scope_persists():
    # positive control: each of the three calls is caught outside
    # partitioning.py, and none inside it
    assert _cache_calls({
        f"{PKG}/partitioning.py": "df.persist()\ndf.unpersist()\n",
        f"{PKG}/ops.py": "a = df.persist()\nb.cache()\nspark.catalog.clearCache()\nc.unpersist()\n",
    }) == ["ops.py:1", "ops.py:2", "ops.py:4"]

    bad = _cache_calls(_sources(PKG))
    assert not bad, (
        "persist/cache/unpersist outside partitioning.cached: " + ", ".join(bad)
    )
