"""The package's import graph, read from the source with ``ast`` (no
module is imported and no Spark session starts).

- Every module is reachable from the entry points a caller has: the
  service facades, the CLI and the oracle catalog, counting imports
  made inside functions. A module nothing reaches is dead code.
- The training-data tooling (``pipeline/``) stays behind its catalog:
  only ``pipeline`` itself and ``catalog_pipeline`` import it, and only
  ``catalog`` imports ``catalog_pipeline``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "time_series_db_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG
ENTRY_POINTS = (f"{PKG}.service", f"{PKG}.__main__", f"{PKG}.catalog")
PIPELINE = f"{PKG}.pipeline"
CATALOG_PIPELINE = f"{PKG}.catalog_pipeline"


def _modules() -> dict[str, Path]:
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = (PKG, *path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


MODULES = _modules()


def _with_parents(name: str) -> set[str]:
    """``name`` and the packages Python imports on the way to it."""
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)} & MODULES.keys()


def _imports(name: str) -> set[str]:
    """Package modules ``name`` imports anywhere in its body (the
    package uses absolute imports only)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(MODULES[name].read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                out |= _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import in {name}"
            out |= _with_parents(node.module)
            for alias in node.names:
                out |= _with_parents(f"{node.module}.{alias.name}")
    return out - {name}


GRAPH = {name: _imports(name) for name in MODULES}


def test_every_module_is_reachable_from_an_entry_point():
    seen: set[str] = set()
    todo = [m for root in ENTRY_POINTS for m in _with_parents(root)]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(GRAPH[name])
    assert sorted(MODULES.keys() - seen) == []


def _inside(name: str, package: str) -> bool:
    return name == package or name.startswith(package + ".")


def test_pipeline_is_imported_only_through_its_catalog():
    bad = sorted(
        f"{src} -> {dst}"
        for src, dsts in GRAPH.items()
        for dst in dsts
        if (
            _inside(dst, PIPELINE)
            and not (_inside(src, PIPELINE) or src == CATALOG_PIPELINE)
        )
        or (dst == CATALOG_PIPELINE and src != f"{PKG}.catalog")
    )
    assert bad == []
