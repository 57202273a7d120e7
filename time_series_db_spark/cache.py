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
instead of ``persist``; query boundaries call :func:`release_others`.

Warm window: a boundary releases only the scopes outside the
:data:`WARM_SCOPES` most recently entered ones, plus the anonymous
scope ``""``.  A dashboard refreshing its panels round-robin therefore
finds each panel's persists still registered: re-running a query
re-persists an identical analyzed plan, which rehydrates from Spark
CacheManager's existing entry, and its probes hit their memos instead
of running a job.  Cross-query accumulation stays bounded by the
window: entering a ninth scope releases the oldest.  ``unpersist`` is
always safe — a released frame re-executed later recomputes from
lineage (correctness never depends on the cache).

Freshness: CacheManager and the ``semanticHash`` memo keys match a
file-source plan by its root path, not by its files, so a warm entry
would keep answering from files that an outside writer has since
added or rewritten.  Sources therefore report each read's listing
through :func:`note_inputs`; when it differs from the listing a scope
read before, that scope is released before anything reuses it.

Frames are deduplicated within a scope by ``DataFrame.semanticHash`` so
an N-times-re-run query tracks one handle per distinct plan, not N.

Concurrency: the current scope is a :class:`contextvars.ContextVar`, so
two callers sharing one session (service threads) each register under
their own query; a thread starts in the anonymous scope.  The registry
and the warm window are shared by every caller and guarded by one lock.
A boundary releases only scopes outside the window, so one caller's
boundary drops another's in-flight persists only when more than
:data:`WARM_SCOPES` other queries were entered meanwhile — and even
then the frames recompute from lineage.

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

import contextvars
import threading

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
_SCOPE: contextvars.ContextVar[str] = contextvars.ContextVar("scope", default="")
#: how many of the most recently entered scopes a boundary keeps warm:
#: a six-panel dashboard plus headroom
WARM_SCOPES = 8
#: entered scopes, least recent first (at most WARM_SCOPES)
_RECENT: list[str] = []
#: scope -> {input root: listing signature it was read with}
_INPUTS: dict[str, dict[str, object]] = {}
#: guards the registries above against concurrent callers
_LOCK = threading.RLock()


def set_scope(name: str) -> None:
    """Name the scope under which the calling context's subsequent
    :func:`persist_tracked` calls register.  Entry points pass their
    query name/text."""
    scope = name or ""
    _SCOPE.set(scope)
    if scope:
        with _LOCK:
            if scope in _RECENT:
                _RECENT.remove(scope)
            _RECENT.append(scope)
            del _RECENT[:-WARM_SCOPES]


def current_scope() -> str:
    return _SCOPE.get()


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it under the current scope."""
    cached = df.persist(level)
    try:
        key = cached.semanticHash()
    except Exception:  # pragma: no cover - analysis failure → unique key
        key = id(cached)
    with _LOCK:
        _TRACKED.setdefault(_SCOPE.get(), {})[key] = cached
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
    with _LOCK:
        memo = _PROBES.setdefault(_SCOPE.get(), {})
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


def note_inputs(root: str, signature) -> None:
    """Record that the current scope reads ``root`` as listed by
    ``signature`` (any comparable value: a file list hash, an mtime).
    Every scope that read ``root`` under a different listing is released
    first — its frames and probe memos would match the new plan and
    answer from the old files."""
    with _LOCK:
        for scope, seen in list(_INPUTS.items()):
            if seen.get(root, signature) != signature:
                _release_scope(scope, False)
        _INPUTS.setdefault(_SCOPE.get(), {})[root] = signature


def _release_scope(scope: str, blocking: bool) -> int:
    """Drop ``scope``'s entries; the caller holds :data:`_LOCK`."""
    n = 0
    _PROBES.pop(scope, None)
    _INPUTS.pop(scope, None)
    frames = _TRACKED.pop(scope, {})
    # CacheManager holds ONE entry per plan: a plan another live scope
    # also persisted stays cached until the last of them is released
    shared = {key for other in _TRACKED.values() for key in other}
    for key, df in frames.items():
        if key in shared:
            continue
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def release_others(blocking: bool = False) -> int:
    """Unpersist every scope's frames outside the warm window (the
    :data:`WARM_SCOPES` most recently entered scopes) and the anonymous
    scope's; returns the release count.  The query boundary call.  Never
    raises — a frame whose session already stopped is skipped."""
    n = 0
    with _LOCK:
        for scope in (set(_TRACKED) | set(_PROBES) | set(_INPUTS)) - set(_RECENT):
            n += _release_scope(scope, blocking)
    return n


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked frame in every scope (session teardown /
    tests); returns the release count."""
    n = 0
    with _LOCK:
        for scope in set(_TRACKED) | set(_PROBES) | set(_INPUTS):
            n += _release_scope(scope, blocking)
    return n
