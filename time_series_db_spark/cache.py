"""Query-scoped registry of persisted intermediate frames.

Several stages persist small intermediates so coordinator-style probes
and the final join read ONE materialization of the upstream pipeline
(binary matching chain, fallback emptiness probes, the distributed rank's
range-partitioned stat table, MinHash signatures).  Spark has no
"after the action" hook, so those stages cannot unpersist on their own
success path — the frames are still lazy parts of the returned plan.  In
a long-lived session the cached blocks would accumulate and evict
executor memory (the reference has no analogous leak: its coordinator
holds series lists on the request heap, freed with the request).

Contract: the registry is keyed by a *scope* — the query name/text, set
by the entry point (catalog ``register`` wrapper, service facade) via
:func:`set_scope` before building.  Stages call :func:`persist_tracked`
instead of ``persist``; query boundaries call :func:`release_others`,
which unpersists every *other* scope's frames but keeps the current
scope's alive.  Re-running the same query therefore re-persists an
identical analyzed plan and rehydrates from Spark CacheManager's
existing entry (warm dashboards, warm bench re-runs), while cross-query
accumulation stays bounded: at most the current and the most recent
other scope's caches are ever live, and the next boundary drops the
latter.  ``unpersist`` is always safe — a released frame re-executed
later recomputes from lineage (correctness never depends on the cache).

Frames are deduplicated within a scope by ``DataFrame.semanticHash`` so
an N-times-re-run query tracks one handle per distinct plan, not N.

Bounded collect: a coordinator kernel (BPE trainer, union-find, MMR)
runs in Python only over a provably small frame.  :func:`bounded_rows`
is that one action — ``limit(bound + 1).collect()``, or ``None`` when
the frame is over the bound (the caller then goes distributed or
raises); :func:`within_bound` is the memoised count for guards that
never need the rows.  Dirty-input policy (dropping NULL graph
endpoints, say) is applied before the bound, so both paths see the
same rows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: scope -> {semantic_hash: frame}.  Scope "" is the anonymous pool for
#: persists issued outside any entry point (released at every boundary).
_TRACKED: dict[str, dict[int, DataFrame]] = {}
#: scope -> {(semantic_hash, kind): value} — memoized coordinator-probe
#: results (binary-op series counts / common-label sets).  A probe is a
#: pure function of its frame's analyzed plan, and the frame cache
#: already pins that plan's DATA for the scope's lifetime, so the probe
#: result has exactly the cache's staleness semantics: released together
#: at the same boundaries.
_PROBES: dict[str, dict[tuple, object]] = {}
_SCOPE: str = ""


def set_scope(name: str) -> None:
    """Name the scope under which subsequent :func:`persist_tracked`
    calls register.  Entry points pass their query name/text."""
    global _SCOPE
    _SCOPE = name or ""


def current_scope() -> str:
    return _SCOPE


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it under the current scope."""
    cached = df.persist(level)
    try:
        key = cached.semanticHash()
    except Exception:  # pragma: no cover - analysis failure → unique key
        key = id(cached)
    _TRACKED.setdefault(_SCOPE, {})[key] = cached
    return cached


def probe_memo(dfs, kind: str, compute):
    """Memoize a coordinator-probe result (a small driver value computed
    by an action over the given frame(s)) under the current scope, keyed
    by their semantic hashes: an identical query re-run skips the probe
    job entirely — the warm-dashboard path pays zero blocking actions
    for its binary stages. Falls through to ``compute()`` (uncached)
    when a plan can't be hashed."""
    if isinstance(dfs, DataFrame):
        dfs = (dfs,)
    try:
        key = (tuple(df.semanticHash() for df in dfs), kind)
    except Exception:  # pragma: no cover - analysis failure → no memo
        return compute()
    memo = _PROBES.setdefault(_SCOPE, {})
    if key not in memo:
        memo[key] = compute()
    return memo[key]


def bounded_rows(df: DataFrame, bound: int) -> list | None:
    """``df``'s rows when it has at most ``bound`` of them, else ``None``
    — one action, which reads at most ``bound + 1`` rows."""
    rows = df.limit(bound + 1).collect()
    return rows if len(rows) <= bound else None


def within_bound(df: DataFrame, bound: int, kind: str) -> bool:
    """Whether ``df`` has at most ``bound`` rows, by a bounded count
    memoised per scope like any other probe (keyed by the bound too)."""
    n = probe_memo(
        df, f"{kind}<={bound}", lambda: df.limit(bound + 1).count()
    )
    return n <= bound


def _release_scope(scope: str, blocking: bool) -> int:
    n = 0
    _PROBES.pop(scope, None)
    for df in _TRACKED.pop(scope, {}).values():
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def release_others(blocking: bool = False) -> int:
    """Unpersist every scope's frames EXCEPT the current scope's; returns
    the release count.  The query boundary call: keeps the active query
    warm for identical re-runs, drops everything else.  Never raises —
    a frame whose session already stopped is skipped."""
    n = 0
    scopes = set(_TRACKED) | set(_PROBES)
    for scope in [s for s in scopes if s != _SCOPE]:
        n += _release_scope(scope, blocking)
    return n


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked frame in every scope (session teardown /
    tests); returns the release count."""
    n = 0
    for scope in set(_TRACKED) | set(_PROBES):
        n += _release_scope(scope, blocking)
    return n
