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

Each memo key also names the listings its own build noted
(:func:`note_inputs` records them per caller, and :func:`set_scope`
clears the record).  Two callers of one scope name can otherwise race:
a caller that read the old listing could store its answer after a
caller with the new listing released the scope, and the new caller
would find that stale entry under the same plan hash.

Response memo: a service query's response — the Arrow table of its
:func:`~time_series_db_spark.output.matrix_frame` collect, sorted for
shaping — is one more probe memo, kind ``"response"``, keyed like any
other by the frame's ``semanticHash`` and the listings its build noted.
A dashboard re-issuing a panel inside the warm window still builds the
plan, and every source still notes its listing, but the response runs
no Spark job.  It is released with its scope: outside the warm window,
or when a listing it read changes.  An answer is held only:

- in a named scope.  A service facade returns its caller to the
  anonymous scope, so a later direct ``to_matrix`` holds nothing; a
  catalog entry keeps its caller in its scope but forgets its noted
  listings (:func:`forget_noted`).
- when its build noted at least one input listing, none of them
  unknown (:func:`inputs_noted`).  Freshness rests on those notes, so
  a source that does not report its reads gets no memoised answer.
- for a deterministic analyzed plan.
- for a table under :data:`~time_series_db_spark.output
  .RESPONSE_MEMO_BYTES` Arrow bytes and not cut at a ``max_points``
  row bound; any other table comes back as :class:`Transient`.

The warm window therefore holds at most ``WARM_SCOPES`` times that cap
per distinct response.

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
from typing import NamedTuple

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
#: the (input root, listing signature) pairs the calling context's build
#: noted since it entered its scope — part of every memo key it makes
_NOTED: contextvars.ContextVar[frozenset] = contextvars.ContextVar(
    "noted", default=frozenset()
)
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
    _NOTED.set(frozenset())
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


class Transient(NamedTuple):
    """A :func:`probe_memo` result handed back to its caller but not
    memoised (a response table over the byte cap or cut at a row
    bound)."""

    value: object


def probe_memo(dfs, kind: str, compute):
    """Memoize a coordinator-probe result (a small driver value computed
    by an action over the given frame(s)) under the current scope, keyed
    by their semantic hashes and the listings this context's build
    noted: an identical query re-run skips the probe job entirely — the
    warm-dashboard path pays zero blocking actions for its binary
    stages.  A ``compute()`` returning :class:`Transient` hands its value
    back unmemoised.  Falls through to ``compute()`` (uncached) when a
    plan can't be hashed."""
    if isinstance(dfs, DataFrame):
        dfs = (dfs,)
    try:
        key = (tuple(df.semanticHash() for df in dfs), kind, _NOTED.get())
    except Exception:  # pragma: no cover - analysis failure → no memo
        key, memo = None, {}
    else:
        with _LOCK:
            memo = _PROBES.setdefault(_SCOPE.get(), {})
    if key not in memo:
        out = compute()
        if isinstance(out, Transient):
            return out.value
        memo[key] = out
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
    answer from the old files.  The calling context also keeps the pair
    for the memo keys it makes from here on (:func:`probe_memo`)."""
    _NOTED.set(_NOTED.get() | {(root, signature)})
    with _LOCK:
        for scope, seen in list(_INPUTS.items()):
            if seen.get(root, signature) != signature:
                _release_scope(scope, False)
        _INPUTS.setdefault(_SCOPE.get(), {})[root] = signature


def inputs_noted() -> bool:
    """Whether the calling context's build noted at least one input
    listing since it entered its scope, none of them unknown (``None``,
    a non-local path): the condition for memoising a whole response."""
    noted = _NOTED.get()
    return bool(noted) and all(sig is not None for _, sig in noted)


def forget_noted() -> None:
    """Clear the calling context's noted listings, staying in its scope:
    what it builds next is not memoised as a response until a source
    notes a read again."""
    _NOTED.set(frozenset())


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
