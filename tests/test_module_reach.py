"""Every package module is reached from a program entry point: the
driver contract (``__spark_entry__.py``), the bench CLI (``bench.py``),
the benchmark (``perfbench/*.py``) or a tool (``tools/*.py``). A module
that only ``tests/`` import is code no catalog query, workload, tool or
pipeline step runs: wire it to a caller or delete it. The walk reads
source with ``ast`` and imports nothing, so it needs no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "dbm_nca_ph_etl_spark"
ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
]

# Reached from tests only, on purpose: `sources/lakefs_http` is the one
# object-store adapter with a true compare-and-swap (`atomic_cas=True`).
# The txlog and joinview crash sweeps pass it through the sinks' `fs=`
# seam to check the commit protocols against a real conditional PUT.
ALLOWED_UNREACHED = {f"{PACKAGE}.sources.lakefs_http"}


def package_modules() -> dict[str, Path]:
    """Dotted module name → source file, packages under their own name."""
    out = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def named_modules(path: Path, modules: dict[str, Path]) -> set[str]:
    """The package modules ``path`` imports, function-local imports
    included. A string literal equal to a module's dotted name counts as
    an import (``session.get_spark`` names its worker daemon that way),
    and importing ``a.b.c`` runs ``a`` and ``a.b`` first. The package
    spells every import absolutely, so relative imports are not
    resolved."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names.add(node.module or "")
            names.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    parents = {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}
    return parents & modules.keys()


def reached_modules(modules: dict[str, Path]) -> set[str]:
    todo = set().union(*(named_modules(p, modules) for p in ENTRY_POINTS))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= named_modules(modules[name], modules) - seen
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = package_modules()
    reached = reached_modules(modules)
    unreached = sorted(modules.keys() - reached - ALLOWED_UNREACHED)
    assert not unreached, (
        "package modules no entry point reaches (wire each to a caller "
        f"or delete it): {unreached}"
    )
    stale = sorted(ALLOWED_UNREACHED & reached) + sorted(ALLOWED_UNREACHED - modules.keys())
    assert not stale, f"allowlist entries that are reached or gone: {stale}"
