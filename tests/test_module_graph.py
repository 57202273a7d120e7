"""The package's import graph and its top-level definitions, read from
the source with ``ast`` (no module is imported and no Spark session
starts).

- Every module is reachable from the entry points a caller has: the
  service facades, the CLI and the oracle catalog, counting imports
  made inside functions. A module nothing reaches is dead code.
- Every top-level engine definition is reachable by name from those
  entry points, from the benchmarks, or from a named keep-list that
  gives each kept name its reason.
- No module defines the same top-level name twice.
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


# ---- definitions ---------------------------------------------------------

REPO = ROOT.parent
#: Callers outside the package; every name they use counts as reached.
OUTSIDE_CALLERS = (
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
)
_COMMIT_LOG = "kept for the store's planned single commit log (ROADMAP)"
#: Definitions no entry point reaches that stay, each with its reason.
KEEP = {
    "ingest_batch": f"batch store writer, {_COMMIT_LOG}",
    "list_blocks": f"store maintenance, {_COMMIT_LOG}",
    "compact_blocks": f"store maintenance, {_COMMIT_LOG}",
    "apply_retention": f"store maintenance, {_COMMIT_LOG}",
    "start_downsample": f"file-sink leg, {_COMMIT_LOG}",
    "start_recording_rule": f"file-sink leg, {_COMMIT_LOG}",
    "start_alert_rule": f"rule stream, {_COMMIT_LOG}",
    "ingestion_lag": "reads the tsdb_ingestion observe in start_ingest's "
                     "plan; planned query telemetry surfaces it",
    "read_rollup": "test_metrics_source compares MetricsSource with it",
    "release_all": "test teardown",
}

TREES = {name: ast.parse(path.read_text()) for name, path in MODULES.items()}
DEFS = {
    name: [
        node for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    for name, tree in TREES.items()
}


def _names(nodes) -> set[str]:
    """Every name the nodes read, bare or as an attribute."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def _import_time(node: ast.stmt) -> list[ast.AST]:
    """The parts of a definition Python runs when it imports the module:
    decorators, default values and class bases."""
    if isinstance(node, ast.ClassDef):
        return [*node.decorator_list, *node.bases, *node.keywords]
    return [*node.decorator_list, *node.args.defaults,
            *(d for d in node.args.kw_defaults if d is not None)]


def _is_entry(module: str, node: ast.stmt) -> bool:
    """A public service facade, the CLI, or a ``@register`` catalog
    entry."""
    return (
        (module == f"{PKG}.service" and not node.name.startswith("_"))
        or module == f"{PKG}.__main__"
        or any(
            isinstance(d, ast.Call) and "register" in _names([d.func])
            for d in node.decorator_list
        )
    )


def _reached_names(keep) -> set[str]:
    """Names reached from the entry points and ``keep``. Module-level
    statements count as uses, but imports carry no names, so a package
    ``__init__``'s re-exports are not uses. A reached definition's body
    reaches every top-level definition of each name it reads."""
    todo = set(keep) | _names(ast.parse(p.read_text()) for p in OUTSIDE_CALLERS)
    by_name: dict[str, list[ast.stmt]] = {}
    for module, tree in TREES.items():
        todo |= _names(n for n in tree.body if n not in DEFS[module])
        for node in DEFS[module]:
            todo |= _names(_import_time(node))
            todo |= {node.name} if _is_entry(module, node) else set()
            by_name.setdefault(node.name, []).append(node)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= _names(by_name.get(name, [])) - seen
    return seen


def test_every_engine_definition_is_reachable_from_an_entry_point():
    """A top-level definition that no catalog entry, service path or CLI
    reaches is dead code. ``pipeline/`` is left out: whether the
    training-data tooling stays in this repo is an open decision."""
    reached = _reached_names(KEEP)
    dead = sorted(
        f"{module}: {node.name}"
        for module, defs in DEFS.items()
        if not _inside(module, PIPELINE)
        for node in defs
        if node.name not in reached
    )
    assert dead == []


def test_keep_list_names_only_unreached_definitions():
    defined = {node.name for defs in DEFS.values() for node in defs}
    reached = _reached_names(())
    assert sorted(n for n in KEEP if n not in defined or n in reached) == []


def test_no_module_defines_a_name_twice():
    """A second top-level ``def`` or ``class`` of a name silently
    replaces the first."""
    twice = sorted(
        f"{module}: {node.name}"
        for module, defs in DEFS.items()
        for i, node in enumerate(defs)
        if node.name in {d.name for d in defs[:i]}
    )
    assert twice == []
