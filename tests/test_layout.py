"""Package layout invariants, checked on the source with ``ast``.

Reachability: every package module is imported by another package
module, the benchmark (``perfbench/``, ``bench.py``), the entry point
``__spark_entry__.py`` or ``tools/``. A module that only tests import
is code no lane, pipeline or tool runs. The exceptions are the SURVEY
entry points below.

Layering: ``plans/`` is the top layer, so no package module outside it
imports ``plans``.
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
