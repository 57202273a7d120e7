#!/usr/bin/env python3
"""End-to-end benchmark of the TSDB query service.

    python3 perfbench/run.py --workload {dashboard,ingest} \\
        --seed N --seconds S --trace {0,1}

One run is one fresh process: it generates its inputs from the seed
(the events table is the fixed copy in ``data/``), starts a Spark session through ``time_series_db_spark.session.get_spark``
at ``SPARK_GRAFT_CPUS=$(nproc)``, drives the public facades with one
closed-loop client, checks every response against DuckDB and prints one
JSON line as the last line of stdout:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md).  Spans and per-query Spark metrics of a
traced run go to ``.bench_build/perfbench/trace-<workload>-s<seed>.json``.
All scratch files stay under ``.bench_build/perfbench`` of the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import startup  # noqa: E402
from oracle import Oracle, diff, flatten_matrix, label_keys  # noqa: E402

WORKLOADS = ("dashboard", "ingest")
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


HOUR_MS = 3_600_000
#: ingest leg that closes each read workload: files × documents
LEG_FILES, LEG_DOCS = 6, 2_000
#: ingest workload: documents per micro-batch file, and about how long
#: one such batch takes beside the reader, to size the drain to --seconds
INGEST_DOCS, INGEST_BATCH_S = 5_000, 1.5
#: about how long one warm cycle of the dashboard panels takes (4 cores,
#: sf0.1): the window is a fixed number of whole cycles sized from
#: --seconds, so every run measures the same work.  At least two, so
#: that a traced run can trace each panel in one and not in the other.
CYCLE_S = 10.0
MIN_CYCLES = 2
#: set-ups timed by an untraced run: its own and SETUPS - 1 in child
#: processes, each a fresh interpreter and JVM.  The set-ups of one run
#: agree within 20% (usually 10%); runs differ by host load, which more
#: set-ups per run do not average out, and each costs a JVM start.
SETUPS = 2


# ---------------------------------------------------------------------------
# process environment
# ---------------------------------------------------------------------------


def host_settings(work: str) -> dict:
    """Spark settings sized to this host; every scratch path stays in the
    checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    # an eighth of physical memory, at most session.py's 16g default
    # (which is more than a 15 GB host has)
    mem_mb = max(1024, min(16 * 1024, total_kb // 1024 // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
        # spark-submit's own launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return {"nproc": cpus, "driver_memory": f"{mem_mb}m"}


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times (user, nice, system, idle,
    iowait, irq, softirq, steal, …), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def source_version() -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "time_series_db_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return {"git_commit": commit, "package_sha256": h.hexdigest()[:16]}


class RssSampler:
    """Peak resident memory of this process plus the driver JVM."""

    def __init__(self, jvm_pid: int | None):
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                return next(int(line.split()[1]) for line in fh if line.startswith("VmRSS"))
        except (OSError, StopIteration):
            return 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def child_setup() -> float:
    """Seconds of one set-up in a child process (``startup.py``), which
    stops its session and JVM before it exits."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "startup.py")],
                         stdout=subprocess.PIPE, text=True, timeout=150)
    if out.returncode != 0:
        raise RuntimeError(f"set-up child exited with {out.returncode}")
    seconds = float(out.stdout.strip().splitlines()[-1])
    log(f"set-up child: {seconds:.2f} s")
    return seconds


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ---------------------------------------------------------------------------
# the query client
# ---------------------------------------------------------------------------


class Client:
    """One closed-loop caller of the service facades: sends a query,
    waits for the matrix JSON, records the latency, sends the next."""

    def __init__(self, tracer=None):
        from time_series_db_spark import service

        self.facades = {"m3ql": service.m3ql_query_range,
                        "promql": service.promql_query_range}
        self.tracer = tracer
        self.n = 0

    def ask(self, source, lang: str, query: str, start: int, end: int, step: int,
            traced: bool = False) -> dict:
        """One facade call + JSON encoding.  Returns a record with the
        latency, the response (or the error) and the query id."""
        self.n += 1
        qid = f"q{self.n}:{threading.get_ident()}"
        rec = {"qid": qid, "lang": lang, "query": query, "start": start,
               "end": end, "step": step, "traced": traced}
        tracer = self.tracer if traced else None
        t0 = time.perf_counter()
        try:
            with tracer.query(qid) if tracer else nullcontext():
                resp = self.facades[lang](source, query, start, end, step)
                with tracer.span("output.encode") if tracer else nullcontext():
                    body = json.dumps(resp)
            rec["resp"], rec["bytes"] = resp, len(body)
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["t0"], rec["t1"] = t0, time.perf_counter()
        rec["ms"] = (rec["t1"] - t0) * 1e3
        return rec


def is_traced(i: int, cycle: int, trace: bool) -> bool:
    """In a traced run every other query is traced, the pattern shifting
    by one each cycle, so each query of a cycle runs traced in one cycle
    and untraced in the next: warm-up drift then falls on both halves
    alike and cancels out of the overhead estimate."""
    return trace and (i % cycle + i // cycle) % 2 == 0


# ---------------------------------------------------------------------------
# streaming ingest
# ---------------------------------------------------------------------------


def _log_entries(log_dir: str) -> list[tuple[str, list[str]]]:
    """(name, JSON lines) of each entry of a streaming metadata log."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        name = os.path.basename(path)
        if name[0].isdigit() and not name.endswith(".tmp"):
            with open(path) as fh:
                out.append((name, [ln for ln in fh.read().splitlines() if ln.startswith("{")]))
    return out


def committed_files(table: str, checkpoint: str) -> int:
    """Index of the last document file a reader of ``table`` can see:
    the sink's newest committed micro-batch names a file-source log
    offset in the checkpoint's offset log, and every source-log entry up
    to that offset is in the table."""
    sink = [int(n.split(".")[0]) for n, _ in _log_entries(os.path.join(table, "_spark_metadata"))]
    if not sink:
        return -1
    with open(os.path.join(checkpoint, "offsets", str(max(sink)))) as fh:
        log_offset = json.loads(fh.read().splitlines()[-1])["logOffset"]
    files = [
        int(json.loads(ln)["path"].rsplit("part-", 1)[1].split(".")[0])
        for _, lines in _log_entries(os.path.join(checkpoint, "sources", "0"))
        for ln in lines
        if json.loads(ln)["batchId"] <= log_offset
    ]
    return max(files, default=-1)


def table_bytes(table: str) -> tuple[int, int]:
    """(bytes, files) of the table's data files, logs excluded."""
    files = glob.glob(os.path.join(table, "block=*", "*.parquet"))
    return sum(os.path.getsize(f) for f in files), len(files)


def stage_docs(paths: list[str], src_dir: str, first_mtime: int) -> None:
    """Move document files into the stream's source directory in arrival
    order (the file source orders new files by modification time)."""
    os.makedirs(src_dir, exist_ok=True)
    for k, p in enumerate(paths):
        os.utime(p, (first_mtime + k, first_mtime + k))
        os.rename(p, os.path.join(src_dir, os.path.basename(p)))


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def drain(spark, src_dir: str, table: str, checkpoint: str, beside=None) -> dict:
    """Run ``start_ingest`` with ``availableNow`` and one file per trigger
    until every staged file is committed.  ``beside(stop)`` runs in a
    thread meanwhile and is told to stop when the drain ends."""
    from time_series_db_spark.streaming.ingest import start_ingest

    stop = threading.Event()
    thread = threading.Thread(target=beside, args=(stop,)) if beside else None
    t0 = time.perf_counter()
    q = start_ingest(spark, src_dir, table, checkpoint_dir=checkpoint,
                     available_now=True, max_files_per_trigger=1)
    if thread is not None:
        thread.start()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if thread is not None:
        stop.set()
        thread.join()
    if q.exception() is not None:
        raise RuntimeError(f"ingest stream failed: {q.exception()}")
    return {"wall_s": wall, "progress": progress_of(q)}


def stream_stats(runs: list[dict]) -> dict:
    """Ingest metrics over the data-carrying micro-batches of the drains."""
    batches = [p for r in runs for p in r["progress"] if p.get("numInputRows")]
    if not batches:
        raise RuntimeError("the ingest stream committed no data batch")

    def p50(key):
        return statistics.median(b["durationMs"].get(key, 0) for b in batches)

    ops = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    return {
        "samples": sum(
            (b.get("observedMetrics") or {}).get("tsdb_ingestion", {}).get("n_samples", 0)
            for b in batches
        ),
        "wall_s": sum(r["wall_s"] for r in runs),
        "batches": len(batches),
        "batch_ms": p50("triggerExecution"),
        "add_batch_ms": p50("addBatch"),
        "planning_ms": p50("queryPlanning"),
        "wal_commit_ms": p50("walCommit"),
        "state_rows": ops[-1].get("numRowsTotal", 0) if ops else 0,
        "late_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def finish_drain(run, stats: dict, table: str, n_files: int) -> dict:
    """Check a drain of files 1..n-1 (file 0 went first, alone) against
    the oracle and add the table's size to its stats: the stream's own
    committed-sample count and the table's parquet rows must both be
    exactly the documents the stream must accept."""
    want = run.oracle.accepted_count(n_files - 1) - run.oracle.accepted_count(0)
    if stats["samples"] != want:
        run.errors.append(f"ingest stream committed {stats['samples']} samples, "
                          f"oracle accepts {want}")
    got, rows = run.oracle.table_rows(table), run.oracle.expected_table_rows(n_files - 1)
    if got != rows:
        run.errors.append(f"ingest table: {len(got)} rows vs {len(rows)} accepted documents")
    stats["accepted"] = len(rows)
    stats["bytes"], stats["files"] = table_bytes(table)
    return stats


def ingest_leg(run) -> dict:
    """A short ingest drain that closes each read workload after its query
    window, so every end-to-end metric exists on every workload.  Like
    the ingest workload, it first drains one file to start the stream and
    pay its cold batch, then measures the drain of the rest."""
    paths = inputs.write_ingest_docs(
        os.path.join(run.work, "leg-staged"), run.seed, LEG_FILES, LEG_DOCS)
    run.oracle.load_docs(paths, inputs.OOO_CUTOFF_MS)
    src, table, ckpt = (os.path.join(run.work, d) for d in ("leg-src", "leg-table", "leg-ckpt"))
    mtime0 = int(time.time()) - 10 * LEG_FILES
    stage_docs(paths[:1], src, mtime0)
    drain(run.spark, src, table, ckpt)
    stage_docs(paths[1:], src, mtime0 + 1)
    return finish_drain(run, stream_stats([drain(run.spark, src, table, ckpt)]), table, LEG_FILES)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_dashboard(ctx) -> None:
    from time_series_db_spark.catalog import ORACLES
    from time_series_db_spark.sources.m3source import EventsSource
    from time_series_db_spark.sources.tables import EVENTS_MAX_TS, EVENTS_MIN_TS

    src = EventsSource(ctx.spark, ctx.data_dir)
    panels = inputs.DASHBOARD_PANELS
    want = {name: ctx.oracle.rows(ORACLES[name]) for name, _, _ in panels}

    def ask(i, traced=False):
        name, lang, query = panels[i % len(panels)]
        rec = ctx.client.ask(src, lang, query, EVENTS_MIN_TS, EVENTS_MAX_TS, HOUR_MS, traced)
        rec["want"] = name
        return rec

    ctx.cold = ask(0)
    log(f"cold query {ctx.cold['ms']:.0f} ms")
    # the other panels' first, slowest runs stay out of the window
    ctx.warmup = [ask(i) for i in range(1, ctx.cycle)]
    ctx.window(lambda i: ask(i, is_traced(i, ctx.cycle, ctx.trace)))
    for rec in [ctx.cold] + ctx.warmup + ctx.records:
        if "resp" in rec:
            exp = want[rec["want"]]
            rec["mismatch"] = diff(flatten_matrix(rec["resp"], label_keys(exp)), exp)


def run_ingest(ctx) -> None:
    """Phase A drains the first document file (stream start-up and the
    first, cold micro-batch); the cold query reads it back and one read of
    each other family warms up, untimed.  Phase B drains the rest one
    file per trigger while one reader thread issues read-after-write
    queries through MetricsSource."""
    from time_series_db_spark.sources.m3source import MetricsSource

    n_files, paths = len(ctx.doc_paths), ctx.doc_paths
    ctx.oracle.load_docs(paths, inputs.OOO_CUTOFF_MS)
    src, table, ckpt = (os.path.join(ctx.work, d) for d in ("src", "table", "ckpt"))
    mtime0 = int(time.time()) - 10 * n_files
    source = MetricsSource(ctx.spark, table)
    start, end = inputs.JAN1_MS, inputs.JAN1_MS + n_files * inputs.SLICE_MS
    reads = inputs.ingest_reads(ctx.seed, 1_000)

    def ask(i, traced=False):
        q = reads[i]
        before = committed_files(table, ckpt)
        rec = ctx.client.ask(source, q["lang"], q["query"], start, end, q["step"], traced)
        rec["want"], rec["through"] = q, (before, committed_files(table, ckpt))
        return rec

    stage_docs(paths[:1], src, mtime0)
    drain(ctx.spark, src, table, ckpt)
    log("phase A drained")
    ctx.cold = ask(0)
    log(f"cold query {ctx.cold['ms']:.0f} ms")
    # the other read families' first, slowest runs stay out of the window
    ctx.warmup = [ask(i) for i in range(1, ctx.cycle)]

    def reader(stop):
        i = 0
        try:
            while not stop.is_set() and len(reads) > i + ctx.cycle:
                ctx.records.append(ask(i + ctx.cycle, is_traced(i, ctx.cycle, ctx.trace)))
                i += 1
        except Exception as e:  # reported as a failed run, not lost with the thread
            ctx.errors.append(f"reader thread: {type(e).__name__}: {e}")

    stage_docs(paths[1:], src, mtime0 + 1)
    phase_b = drain(ctx.spark, src, table, ckpt, beside=reader)
    ctx.ingest = finish_drain(ctx, stream_stats([phase_b]), table, n_files)

    for rec in [ctx.cold] + ctx.warmup + ctx.records:
        if "resp" not in rec:
            continue
        got = flatten_matrix(rec["resp"])
        lo, hi = rec["through"]
        # the read saw some committed prefix between its start and end
        misses = [diff(got, ctx.oracle.ingest_rows(rec["want"], b, start, end))
                  for b in range(lo, hi + 1)]
        rec["mismatch"] = None if None in misses else misses[-1]


RUNNERS = {"dashboard": run_dashboard, "ingest": run_ingest}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the query tail: the highest percentile that
    still has at least ten samples beyond it, but never below the
    nearest-rank p90 — at this benchmark's run length (12 or so queries)
    the ten-beyond rule alone would land below the median."""
    s = sorted(values)
    n = len(s)
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return s[k], 100.0 * (k + 1) / n


#: queries per cycle: the panel set, the reader's query families
CYCLE = {"dashboard": len(inputs.DASHBOARD_PANELS), "ingest": inputs.INGEST_READ_FAMILIES}


class Run:
    """One benchmark run: its inputs, session, query records and ingest
    statistics."""

    def __init__(self, args, work: str):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.data_dir = os.path.dirname(inputs.EVENTS_PATH)
        self.cycle = CYCLE[args.workload]
        self.spark = self.client = self.oracle = None
        self.doc_paths: list[str] = []
        self.records: list[dict] = []
        self.cold: dict | None = None
        self.warmup: list[dict] = []
        self.errors: list[str] = []
        self.ingest: dict | None = None

    @property
    def cycles(self) -> int:
        return max(MIN_CYCLES, round(self.seconds / CYCLE_S))

    def window(self, ask) -> None:
        """The measured closed loop: ``cycles`` whole query cycles."""
        for i in range(self.cycle * self.cycles):
            self.records.append(ask(i))

    @property
    def busy_s(self) -> float:
        """Seconds from the start of the window's first query to the end
        of its last: the client's busy span, which ``queries_per_s``
        divides by."""
        return self.records[-1]["t1"] - self.records[0]["t0"]


def end_to_end(run: Run, setup_s: float, rss_kb: int) -> tuple[dict, dict]:
    """The end-to-end metrics, and a summary of the window for the
    settings line."""
    lat = [r["ms"] for r in run.records]
    tail_ms, tail_pct = tail(lat)
    ing = run.ingest
    m = {
        "setup_s": (setup_s, "s"),
        "cold_query_ms": (run.cold["ms"], "ms"),
        "query_p50_ms": (statistics.median(lat), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "queries_per_s": (len(lat) / run.busy_s, "1/s"),
        "ingest_samples_per_s": (ing["samples"] / ing["wall_s"], "1/s"),
        "ingest_batch_p50_ms": (ing["batch_ms"], "ms"),
        "storage_bytes_per_sample": (ing["bytes"] / ing["accepted"], "B"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
    }
    summary = {"queries": len(lat), "tail_percentile": round(tail_pct, 1),
               "latencies_ms": [round(x) for x in lat]}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, summary


def per_layer(run: Run, spans_: list[dict], harvest: dict, session: dict) -> tuple[dict, list]:
    """Per-query means over the traced queries of the window; the exact
    counts (py4j calls, jobs, probe jobs) over its first ``cycle`` traced
    queries, which are the same queries in every run of a seed.  Also
    returns the heaviest operators, by time per query."""
    traced = {r["qid"]: r for r in run.records if r["traced"]}
    qids = list(traced)
    first = qids[: run.cycle]
    by_q: dict[str, list] = {q: [] for q in qids}
    for s in spans_:
        if s["qid"] in by_q:
            by_q[s["qid"]].append(s)
    children: dict[int, float] = {}
    for s in spans_:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["t1"] - s["t0"]

    def dur(s):
        return (s["t1"] - s["t0"]) * 1e3

    def self_ms(s):
        return dur(s) - children.get(s["id"], 0.0) * 1e3

    def mean(f, qs=qids):
        return sum(f(q) for q in qs) / len(qs)

    def spans(q, name):
        return [s for s in by_q[q] if s["name"] == name]

    ids = {q: {s["id"]: s for s in by_q[q]} for q in qids}
    ops_total: dict[str, float] = {}
    for q in qids:
        for op, ms in harvest[q]["op_ms"].items():
            ops_total[op] = ops_total.get(op, 0.0) + ms
    top = [(op, ms / len(qids)) for op, ms in sorted(ops_total.items(), key=lambda kv: -kv[1])]
    probes = [s for q in qids for s in spans(q, "cache.probe")]
    hits = sum(1 for s in probes if s.get("hit"))
    ing = run.ingest
    lat_on = [r["ms"] for r in run.records if r["traced"]]
    lat_off = [r["ms"] for r in run.records if not r["traced"]]
    m = {
        "lang.parse_ms": (mean(lambda q: sum(dur(s) for s in spans(q, "lang.parse"))), "ms"),
        "lang.plan_ms": (mean(lambda q: sum(dur(s) for s in spans(q, "lang.plan"))), "ms"),
        "lang.build_self_ms": (mean(lambda q: sum(self_ms(s) for s in spans(q, "lang.build"))), "ms"),
        "lang.probe_jobs": (mean(lambda q: harvest[q]["jobs"].get("build", 0), first), "count"),
        "lang.py4j_calls": (mean(lambda q: spans(q, "service.query")[0]["py4j"], first), "count"),
        "sources.fetch_ms": (mean(lambda q: sum(dur(s) for s in spans(q, "sources.fetch"))), "ms"),
        "sources.fetch_calls": (mean(lambda q: len(spans(q, "sources.fetch"))), "count"),
        "sources.fetch_memo_hits": (
            mean(lambda q: sum(1 for s in spans(q, "sources.fetch") if s["py4j"] == 0)), "count"),
        "sources.rows_scanned": (mean(lambda q: harvest[q]["rows_scanned"]), "count"),
        "cache.persists": (mean(lambda q: len(spans(q, "cache.persist"))), "count"),
        "cache.probe_calls": (len(probes) / len(qids), "count"),
        "cache.probe_hit_ratio": (hits / len(probes) if probes else 0.0, "ratio"),
        "cache.released": (mean(lambda q: sum(s.get("ret", 0) for s in spans(q, "cache.release"))), "count"),
        "cache.release_ms": (mean(lambda q: sum(dur(s) for s in spans(q, "cache.release"))), "ms"),
        "exec.action_ms": (mean(lambda q: harvest[q]["action_ms"]), "ms"),
        "exec.jobs": (mean(lambda q: sum(harvest[q]["jobs"].values()), first), "count"),
        "exec.stages": (mean(lambda q: harvest[q]["stages"]), "count"),
        "exec.tasks": (mean(lambda q: harvest[q]["tasks"]), "count"),
        "exec.shuffle_bytes": (mean(lambda q: harvest[q]["shuffle_bytes"]), "B"),
        "exec.spill_bytes": (mean(lambda q: harvest[q]["spill_bytes"]), "B"),
        "exec.top_operator_ms": (top[0][1] if top else 0.0, "ms"),
        "output.collect_ms": (mean(lambda q: sum(
            dur(s) for s in spans(q, "spark.collect")
            if ids[q].get(s["parent"], {}).get("name") == "output.to_matrix")), "ms"),
        "output.shape_self_ms": (mean(lambda q: sum(
            self_ms(s) for s in spans(q, "output.to_matrix") + spans(q, "output.encode"))), "ms"),
        "output.points": (mean(lambda q: sum(
            len(x["values"]) for x in traced[q]["resp"]["data"]["result"])), "count"),
        "output.response_bytes": (mean(lambda q: traced[q]["bytes"]), "B"),
        "streaming.batch_ms": (ing["batch_ms"], "ms"),
        "streaming.add_batch_ms": (ing["add_batch_ms"], "ms"),
        "streaming.planning_ms": (ing["planning_ms"], "ms"),
        "streaming.wal_commit_ms": (ing["wal_commit_ms"], "ms"),
        "streaming.state_rows": (ing["state_rows"], "count"),
        "streaming.late_dropped": (ing["late_dropped"], "count"),
        "streaming.files_written": (ing["files"], "count"),
        "session.start_ms": (session["start_ms"], "ms"),
        "session.first_job_ms": (session["first_job_ms"], "ms"),
        "service.self_ms": (mean(lambda q: self_ms(spans(q, "service.query")[0])), "ms"),
        "trace.overhead_ms": (statistics.median(lat_on) - statistics.median(lat_off)
                              if lat_on and lat_off else 0.0, "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, top[:8]


def summarise_exec(raw: dict) -> dict:
    """Operator metrics of one query → the exec-layer sums."""
    out = {"jobs": dict(raw["jobs"]), "stages": raw["stages"], "tasks": raw["tasks"],
           "action_ms": raw["action_ms"], "rows_scanned": 0.0, "shuffle_bytes": 0.0,
           "spill_bytes": 0.0, "op_ms": {}}
    for op, metrics in raw["operators"].items():
        if op.startswith("Scan"):
            out["rows_scanned"] += metrics.get("number of output rows", 0.0)
        out["shuffle_bytes"] += metrics.get("shuffle bytes written", 0.0)
        out["spill_bytes"] += metrics.get("spill size", 0.0)
        ms = sum(v for k, v in metrics.items() if k.endswith("time") or "time in" in k
                 or k == "duration")
        if ms:
            out["op_ms"][op] = ms
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def ingest_files(seconds: int) -> int:
    """Document files of the ingest workload: the cold one plus enough
    for a drain of about ``seconds``."""
    return 1 + max(2, round(seconds / INGEST_BATCH_S))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # stdout carries only the result: everything else, the JVM's output
    # and Spark's progress bars included, goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    cpu0 = cpu_times()

    bench_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(bench_dir, f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, **host_settings(work), **source_version()}

    # inputs, generated untimed before the session exists
    run = Run(args, work)
    settings["sf_dir"] = os.path.relpath(run.data_dir, ROOT)
    with open(inputs.EVENTS_PATH, "rb") as fh:
        settings["events_sha256"] = hashlib.sha256(fh.read()).hexdigest()
    run.oracle = Oracle(inputs.EVENTS_PATH)
    if args.workload == "ingest":
        run.doc_paths = inputs.write_ingest_docs(
            os.path.join(work, "staged"), args.seed, ingest_files(args.seconds), INGEST_DOCS)

    # set-up: package import and session start, as a fresh service pays
    # it; an untraced run times SETUPS of them and reports the median
    setups = [] if run.trace else [child_setup() for _ in range(SETUPS - 1)]
    spark, own = startup.timed_start("perfbench")
    setups.append(own)
    setup_s = statistics.median(setups)
    settings["setups_s"] = [round(x, 3) for x in setups]
    log(f"session ready after {own:.2f} s; set-ups {settings['setups_s']}")
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark

    tracer = None
    if run.trace:
        from tracer import Tracer

        tracer = Tracer(spark)
        tracer.install()
    run.client = Client(tracer)
    try:
        with RssSampler(jvm_pid(spark)) as rss:
            RUNNERS[args.workload](run)
            log(f"{len(run.records)} queries in {run.busy_s:.1f} s, checked")
            if args.workload != "ingest":
                run.ingest = ingest_leg(run)
                log("ingest leg drained")
        records = [run.cold] + run.warmup + run.records
        failed = [r for r in records if "error" in r or r.get("mismatch")]
        for r in failed[:5]:
            print(f"FAILED {r['query']!r}: {r.get('error') or r.get('mismatch')}",
                  file=sys.stderr)
        for e in run.errors:
            print(f"FAILED {e}", file=sys.stderr)
        # the ingest drain is one more operation
        attempted = len(records) + 1
        n_failed = len(failed) + (1 if run.errors else 0)
        correct = n_failed == 0
        metrics = {}
        if correct and run.trace:
            qids = [r["qid"] for r in run.records if r["traced"]]
            harvest = {q: summarise_exec(v) for q, v in tracer.harvest(qids).items()}
            session = {"start_ms": setup_s * 1e3, "first_job_ms": tracer.first_job_ms()}
            metrics, top = per_layer(run, tracer.spans, harvest, session)
            trace_path = os.path.join(bench_dir, f"trace-{args.workload}-s{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"settings": settings, "spans": tracer.spans, "exec": harvest,
                           "top_operators": top, "ingest": run.ingest,
                           "queries": [{k: r.get(k) for k in ("qid", "query", "ms", "traced")}
                                       for r in records]}, fh)
            settings["trace_file"] = os.path.relpath(trace_path, ROOT)
        elif correct:
            metrics, summary = end_to_end(run, setup_s, rss.peak_kb)
            settings.update(summary)
    finally:
        if tracer is not None:
            tracer.uninstall()
        startup.stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    settings["op_error_rate"] = n_failed / attempted
    # a virtual machine's CPU time taken by its host: high values mark a
    # run slowed by other tenants
    spent = [b - a for a, b in zip(cpu0, cpu_times())]
    settings["cpu_steal_share"] = round(spent[7] / max(1, sum(spent)), 3)
    line = {"correct": correct, "attempted": attempted, "failed": n_failed, "metrics": metrics}
    os.write(result_fd, (json.dumps({"settings": settings}) + "\n"
                         + json.dumps(line) + "\n").encode())
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
