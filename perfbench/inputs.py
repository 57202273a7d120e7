"""Benchmark inputs: the events table, the dashboard panels, and the
seeded streaming-ingest documents and read-after-write queries.

The events table is a copy of the sf0.1 test fixture's
``events.parquet`` (100k events over January 2024), kept in
``data/`` so a run reads only its own checkout.  Everything else here is
a pure function of the seed, so two runs with the same seed see
identical inputs.  Nothing in this module starts Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np

#: the sf0.1 ``events`` fixture, copied unchanged
EVENTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                           "events.parquet")
EVENTS_SHA256 = "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2"
JAN1_MS = 1_704_067_200_000


# ---------------------------------------------------------------------------
# dashboard: fixed panel set (catalog entries that carry oracle SQL)
# ---------------------------------------------------------------------------

#: (catalog entry, language, query text) — the catalog entry's own query
#: text, issued over the full January window at a 1h step
DASHBOARD_PANELS = [
    ("m3ql_union_sum", "m3ql", "fetch name:error | fetch name:click | sum region"),
    ("promql_sum_by_rate", "promql", "sum by (region) (rate(error[3h]))"),
    (
        "m3ql_divide_when",
        "m3ql",
        "fetch name:error | divideWhen ge 50 (fetch name:error | sum region) region",
    ),
    ("promql_topk_agg", "promql", 'topk(3, sum by (name) ({__name__=~".+"}))'),
    ("promql_selector_regex", "promql", '{__name__=~"err.*|click", user!~"1.*"}'),
    (
        "promql_binary_on",
        "promql",
        "sum by (region) (error) / on(region) sum by (region) (click)",
    ),
]


def _dsum(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# ingest: seeded JSON ingest documents (README format)
# ---------------------------------------------------------------------------

METRIC_NAMES = ["cpu", "disk", "load", "mem", "net"]
N_HOSTS = 80
SLICE_MS = 30 * 60_000  # event-time span of one document file
OOO_CUTOFF_MS = 3_600_000  # start_ingest's default "1 hour" watermark
DUP_SHARE = 0.05
LATE_SHARE = 0.03


def host_dc(h: int) -> str:
    return f"d{h % 4}"


def write_ingest_docs(dir_path: str, seed: int, n_files: int, per_file: int) -> list[str]:
    """Write ``n_files`` JSON-lines files of ingest documents
    ``{"labels": "name m host h dc d", "timestamp": ms, "value": v}``.

    File k covers event time [JAN1 + k·30m, JAN1 + (k+1)·30m).  Each file
    also carries exact-duplicate retransmits of documents from itself or
    the previous file (a ``DUP_SHARE``) and, from file 2 on, samples 2–4 h
    older than every file but the previous one (a ``LATE_SHARE``).  The
    stream filters late rows against the watermark of the previous
    micro-batch, i.e. the newest timestamp of files 0..k-2 minus the 1 h
    cutoff, so these rows are late under that rule and under the stricter
    files-0..k-1 one alike.  Original (series, ts) keys are unique, so
    first-write-wins dedup is unambiguous.
    Returns the file paths in arrival order."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(dir_path, exist_ok=True)
    used: set[tuple[int, int, int]] = set()
    prev: list[dict] = []
    file_max: list[int] = []
    paths = []
    n_dup = int(per_file * DUP_SHARE)
    n_late = int(per_file * LATE_SHARE)

    def doc(m, h, ts):
        return {
            "labels": f"name {METRIC_NAMES[m]} host h{h:03d} dc {host_dc(h)}",
            "timestamp": int(ts),
            "value": round(float(rng.random()) * 100.0, 2),
        }

    def fresh(lo, hi):
        while True:
            m = int(rng.integers(0, len(METRIC_NAMES)))
            h = int(rng.integers(0, N_HOSTS))
            ts = int(rng.integers(lo, hi))
            if (m, h, ts) not in used:
                used.add((m, h, ts))
                return doc(m, h, ts)

    for k in range(n_files):
        lo = JAN1_MS + k * SLICE_MS
        n_fresh = per_file - n_dup - (n_late if k >= 2 else 0)
        docs = [fresh(lo, lo + SLICE_MS) for _ in range(n_fresh)]
        if k >= 2:
            seen = max(file_max[: k - 1])
            docs += [
                fresh(seen - 4 * OOO_CUTOFF_MS, seen - 2 * OOO_CUTOFF_MS)
                for _ in range(n_late)
            ]
        pool = prev + docs
        docs += [dict(pool[int(i)]) for i in rng.integers(0, len(pool), n_dup)]
        docs = [docs[int(i)] for i in rng.permutation(len(docs))]
        path = os.path.join(dir_path, f"part-{k:05d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(d) + "\n" for d in docs)
        paths.append(path)
        file_max.append(max(d["timestamp"] for d in docs))
        prev = docs
    return paths


INGEST_READ_FAMILIES = 3


def ingest_reads(seed: int, n: int) -> list[dict]:
    """Read-after-write queries, cycling three families: an M3QL group
    sum, a PromQL max-by over one data centre, and a raw one-host fetch.
    Each carries the final SELECT of its DuckDB twin over ``aligned``
    (see ``oracle.ingest_expected``)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        m = METRIC_NAMES[int(rng.integers(0, len(METRIC_NAMES)))]
        step = [60_000, 300_000][int(rng.integers(0, 2))]
        fam = i % INGEST_READ_FAMILIES
        if fam == 0:
            q = {"lang": "m3ql", "query": f"fetch name:{m} | sum dc",
                 "sql": f"SELECT dc, ts, {_dsum('value')} AS value FROM aligned "
                        f"WHERE name = '{m}' GROUP BY 1, 2"}
        elif fam == 1:
            d = f"d{int(rng.integers(0, 4))}"
            q = {"lang": "promql", "query": f'max by (host) ({m}{{dc="{d}"}})',
                 "sql": f"SELECT host, ts, max(value) AS value FROM aligned "
                        f"WHERE name = '{m}' AND dc = '{d}' GROUP BY 1, 2"}
        else:
            h = f"h{int(rng.integers(0, N_HOSTS)):03d}"
            q = {"lang": "m3ql", "query": f"fetch name:{m} host:{h}",
                 "sql": f"SELECT name, host, dc, ts, value FROM aligned "
                        f"WHERE name = '{m}' AND host = '{h}'"}
        q["step"] = step
        out.append(q)
    return out
