"""Traced runs: spans around each layer's public functions, py4j round
trip counts, and Spark execution metrics per query and phase.

Nothing here edits the package.  :meth:`Tracer.install` rebinds each
traced function, wherever a module holds a reference to it, to a wrapper
that records a span; :meth:`Tracer.harvest` reads jobs, stages, tasks
and per-operator SQL metrics back from Spark's status store, which is
populated even with ``spark.ui.enabled=false``.

A span is (id, query id, name, parent id, start, end, py4j calls).  Spans
of one query share the query id; the root span is ``service.query``.
Spark jobs are attributed through ``setJobGroup("<qid>/<phase>")`` with
phase ``build`` (plan build, including probe jobs) or ``collect`` (the
response action); the job group also becomes the SQL execution's
description, which is how executions are matched back to queries.
"""

from __future__ import annotations

import itertools
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import py4j.java_gateway

#: py4j memory-release commands are sent when Python drops a Java handle,
#: on the garbage collector's schedule — not counted as round trips
_GC_COMMAND = "m\nd\n"

#: span names of the traced layer functions: (module, attribute) → name
_FUNCTIONS = [
    ("time_series_db_spark.lang.m3.parser", "parse", "lang.parse"),
    ("time_series_db_spark.lang.prom.parser", "parse", "lang.parse"),
    ("time_series_db_spark.lang.m3.plan", "build_plan", "lang.plan"),
    ("time_series_db_spark.lang.m3.builder", "build_frame", "lang.build"),
    ("time_series_db_spark.lang.prom.builder", "build_frame", "lang.build"),
    ("time_series_db_spark.cache", "persist_tracked", "cache.persist"),
    ("time_series_db_spark.cache", "release_others", "cache.release"),
    ("time_series_db_spark.output", "matrix_frame", "output.frame"),
    ("time_series_db_spark.output", "to_matrix", "output.to_matrix"),
]
_METHODS = [
    ("time_series_db_spark.sources.m3source", "EventsSource", "fetch", "sources.fetch"),
    ("time_series_db_spark.sources.m3source", "MetricsSource", "fetch", "sources.fetch"),
]
#: the phase (job group suffix) a span opens
_PHASE = {"lang.build": "build", "output.to_matrix": "collect"}

_UNITS = {
    "ns": 1e-6, "µs": 1e-3, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC = re.compile(
    r"^(?P<name>.*?)(?: total \(min, med, max[^)]*\)\))?: (?P<num>-?[\d,]+(?:\.\d+)?)"
    r"\s*(?P<unit>[A-Za-zµ]*)"
)
_NODE = re.compile(r'label="(?P<label>[^"]*)"')


def parse_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """Spark plan-graph DOT text → [(operator, {metric: value})], sizes in
    bytes and durations in ms."""
    nodes = []
    for m in _NODE.finditer(dot):
        parts = [p for p in m.group("label").split("<br>") if p]
        if not parts:
            continue
        name = re.sub(r"</?b>", "", parts[0]).strip()
        metrics = {}
        for p in parts[1:]:
            mm = _METRIC.match(p.strip())
            if mm:
                scale = _UNITS.get(mm.group("unit"), 1.0)
                metrics[mm.group("name").strip()] = (
                    float(mm.group("num").replace(",", "")) * scale
                )
        nodes.append((name, metrics))
    return nodes


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._tl = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- thread-local state ------------------------------------------------

    def _state(self):
        tl = self._tl
        if not hasattr(tl, "stack"):
            tl.stack, tl.py4j, tl.paused, tl.qid, tl.group = [], 0, 0, None, None
        return tl

    @contextmanager
    def _quiet(self):
        """The tracer's own py4j calls are not the program's."""
        tl = self._state()
        tl.paused += 1
        try:
            yield
        finally:
            tl.paused -= 1

    def _set_group(self, group: str | None) -> None:
        tl = self._state()
        tl.group = group
        with self._quiet():
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)

    # -- spans -------------------------------------------------------------

    @contextmanager
    def query(self, qid: str, **attrs):
        """Root span of one facade query."""
        tl = self._state()
        tl.qid = qid
        self._set_group(f"{qid}/service")
        try:
            with self.span("service.query", **attrs) as rec:
                yield rec
        finally:
            self._set_group(None)
            tl.qid = None

    @contextmanager
    def span(self, name: str, **attrs):
        tl = self._state()
        if tl.qid is None:
            yield None
            return
        rec = {
            "id": next(self._ids), "qid": tl.qid, "name": name,
            "parent": tl.stack[-1]["id"] if tl.stack else None,
            "t0": time.perf_counter(), "p0": tl.py4j, **attrs,
        }
        phase = _PHASE.get(name)
        prev = tl.group
        if phase:
            self._set_group(f"{tl.qid}/{phase}")
        tl.stack.append(rec)
        try:
            yield rec
        finally:
            tl.stack.pop()
            rec["t1"] = time.perf_counter()
            rec["py4j"] = tl.py4j - rec.pop("p0")
            if phase:
                self._set_group(prev)
            with self._lock:
                self.spans.append(rec)

    # -- installation --------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                if rec is not None and type(out) is int:
                    rec["ret"] = out
                return out

        traced.__wrapped__ = fn
        return traced

    def _wrap_probe(self, fn):
        tracer = self

        def traced(dfs, kind, compute):
            ran = []

            def counted():
                ran.append(1)
                return compute()

            with tracer.span("cache.probe") as rec:
                out = fn(dfs, kind, counted)
                if rec is not None:
                    rec["hit"] = not ran
                return out

        traced.__wrapped__ = fn
        return traced

    def _rebind(self, orig, new) -> None:
        """Point every module-level reference to ``orig`` at ``new``."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                "time_series_db_spark"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._undo.append((mod, attr, orig))

    def install(self) -> None:
        import importlib

        for modname, attr, name in _FUNCTIONS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            self._rebind(orig, self._wrap(orig, name))
        cache = importlib.import_module("time_series_db_spark.cache")
        self._rebind(cache.probe_memo, self._wrap_probe(cache.probe_memo))
        for modname, cls_name, attr, name in _METHODS:
            cls = getattr(importlib.import_module(modname), cls_name)
            orig = cls.__dict__[attr]
            setattr(cls, attr, self._wrap(orig, name))
            self._undo.append((cls, attr, orig))
        # the response action: DataFrame.collect under output.to_matrix
        df_cls = type(self.spark.range(0))
        orig = df_cls.collect
        setattr(df_cls, "collect", self._wrap(orig, "spark.collect"))
        self._undo.append((df_cls, "collect", orig))
        # py4j round trips, counted per thread while a query is open
        client = py4j.java_gateway.GatewayClient
        send = client.send_command
        tracer = self

        def counted(gw, command, *a, **kw):
            tl = tracer._state()
            if tl.qid is not None and not tl.paused and not command.startswith(
                _GC_COMMAND
            ):
                tl.py4j += 1
            return send(gw, command, *a, **kw)

        client.send_command = counted
        self._undo.append((client, "send_command", send))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark status --------------------------------------------------------

    def harvest(self, qids: list[str]) -> dict[str, dict]:
        """Per query: jobs, stages and tasks per phase from the status
        tracker, plus SQL metrics per operator from the status store."""
        with self._quiet():
            # executions end on the listener bus, after the action returns
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            tracker = self.sc.statusTracker()
            want = set(qids)
            out = {q: {"jobs": defaultdict(int), "stages": 0, "tasks": 0,
                       "action_ms": 0.0, "operators": defaultdict(lambda: defaultdict(float))}
                   for q in qids}
            for q in qids:
                for phase in ("service", "build", "collect"):
                    for jid in tracker.getJobIdsForGroup(f"{q}/{phase}"):
                        out[q]["jobs"][phase] += 1
                        info = tracker.getJobInfo(jid)
                        for sid in (info.stageIds if info else []):
                            out[q]["stages"] += 1
                            st = tracker.getStageInfo(sid)
                            out[q]["tasks"] += st.numTasks if st else 0
            store = self.spark._jsparkSession.sharedState().statusStore()
            execs = store.executionsList()
            for i in range(execs.size()):
                e = execs.apply(i)
                desc = e.description() or ""
                qid, _, phase = desc.rpartition("/")
                if qid not in want:
                    continue
                eid = e.executionId()
                done = e.completionTime()
                if phase == "collect" and done.isDefined():
                    out[qid]["action_ms"] += done.get().getTime() - e.submissionTime()
                dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
                for name, metrics in parse_dot(dot):
                    acc = out[qid]["operators"][name]
                    for k, v in metrics.items():
                        acc[k] += v
        return out

    def first_job_ms(self) -> float:
        """Duration of the process's first Spark job."""
        with self._quiet():
            job = self.sc._jsc.sc().statusStore().job(0)
            return float(job.completionTime().get().getTime()
                         - job.submissionTime().get().getTime())
