"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q                     # fast, no Spark
    PERFBENCH_SLOW=1 python3 -m pytest perfbench/tests -q    # + real runs

The fast tests need DuckDB and the package importable; the slow ones run
``perfbench/run.py`` itself (about five minutes on 4 cores).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import run as bench  # noqa: E402
from oracle import Oracle, diff, flatten_matrix, label_keys  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# -- same seed, same inputs --------------------------------------------------


def test_events_is_the_sf01_fixture():
    """The events table is the unchanged sf0.1 fixture: 100k events over
    January 2024, 1,500 users and 5 event types of about 20k each."""
    with open(inputs.EVENTS_PATH, "rb") as fh:
        assert hashlib.sha256(fh.read()).hexdigest() == inputs.EVENTS_SHA256
    n, users, lo, hi, types = duckdb.sql(f"""
        SELECT count(*), count(DISTINCT user_id), min(ts), max(ts),
               count(DISTINCT event_type)
        FROM read_parquet('{inputs.EVENTS_PATH}')""").fetchone()
    assert (n, users, types) == (100_000, 1_500, 5)
    assert (lo.year, lo.month, hi.year, hi.month) == (2024, 1, 2024, 1)


def test_same_seed_same_queries():
    assert inputs.ingest_reads(7, 30) == inputs.ingest_reads(7, 30)
    assert inputs.ingest_reads(7, 30) != inputs.ingest_reads(8, 30)


def test_same_seed_same_documents(tmp_path):
    def docs(seed, d):
        paths = inputs.write_ingest_docs(str(tmp_path / d), seed, 4, 300)
        return [open(p).read() for p in paths]

    assert docs(7, "a") == docs(7, "b")
    assert docs(7, "a") != docs(8, "c")


# -- oracles -------------------------------------------------------------------


@pytest.fixture(scope="module")
def oracle():
    return Oracle(inputs.EVENTS_PATH)


def _matrix(rows):
    """Oracle rows → the matrix response the service would return."""
    series = {}
    for labels, ts, v in rows:
        series.setdefault(labels, []).append([ts, repr(v)])
    return {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": dict(labels), "values": sorted(vals)} for labels, vals in series.items()
    ]}}


def test_perturbed_response_fails_the_oracle(oracle):
    from time_series_db_spark.catalog import ORACLES

    for name, _, _ in inputs.DASHBOARD_PANELS:
        want = oracle.rows(ORACLES[name])
        assert want, name
        resp = _matrix(want)
        assert diff(flatten_matrix(resp, label_keys(want)), want) is None

        shifted = json.loads(json.dumps(resp))
        ts, v = shifted["data"]["result"][0]["values"][0]
        shifted["data"]["result"][0]["values"][0] = [ts, repr(float(v) + 1.0)]
        assert diff(flatten_matrix(shifted, label_keys(want)), want) is not None

        dropped = json.loads(json.dumps(resp))
        dropped["data"]["result"].pop()
        assert diff(flatten_matrix(dropped, label_keys(want)), want) is not None


def test_ingest_oracle_drops_late_and_duplicate_documents(oracle, tmp_path):
    n_files, per_file = 4, 400
    paths = inputs.write_ingest_docs(str(tmp_path / "docs"), 9, n_files, per_file)
    oracle.load_docs(paths, inputs.OOO_CUTOFF_MS)
    n_dup = int(per_file * inputs.DUP_SHARE)
    n_late = int(per_file * inputs.LATE_SHARE)
    # late rows come from file 2 on; retransmits never add a sample
    originals = [per_file - n_dup - (n_late if k >= 2 else 0) for k in range(n_files)]
    assert oracle.accepted_count(n_files - 1) == sum(originals)
    assert oracle.accepted_count(0) == originals[0]
    assert all(sum(1 for _ in open(p)) == per_file for p in paths)


# -- the result line carries every metric BENCHMARK.json names ---------------


def _fake_run(trace: bool):
    args = argparse.Namespace(workload="dashboard", seed=1, seconds=1, trace=int(trace))
    run = bench.Run(args, "unused")
    resp = {"data": {"result": [{"metric": {"region": "r0"}, "values": [[0, "1"]]}]}}
    run.records = [
        {"qid": f"q{i}", "ms": 10.0 + i, "t0": i, "t1": i + 0.5, "traced": i % 2 == 0,
         "resp": resp, "bytes": 50}
        for i in range(12)
    ]
    run.cold = {"ms": 100.0}
    run.ingest = {"samples": 10, "wall_s": 1.0, "batch_ms": 5, "add_batch_ms": 3,
                  "planning_ms": 1, "wal_commit_ms": 1, "state_rows": 10,
                  "late_dropped": 1, "files": 2, "bytes": 100, "accepted": 10}
    return run


def test_end_to_end_names_match_the_spec():
    metrics, _ = bench.end_to_end(_fake_run(False), 1.0, 1024)
    assert set(metrics) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["unit"] == units[k] for k, v in metrics.items())


def test_per_layer_names_match_the_spec():
    run = _fake_run(True)
    qids = [r["qid"] for r in run.records if r["traced"]]
    spans = [{"id": i + 1, "qid": q, "name": "service.query", "parent": None,
              "t0": 0.0, "t1": 0.01, "py4j": 5} for i, q in enumerate(qids)]
    raw = {"jobs": {"build": 1, "collect": 2}, "stages": 3, "tasks": 4, "action_ms": 1.0,
           "operators": {"Scan parquet ": {"number of output rows": 10.0, "scan time": 2.0}}}
    harvest = {q: bench.summarise_exec(raw) for q in qids}
    metrics, top = bench.per_layer(run, spans, harvest, {"start_ms": 1.0, "first_job_ms": 1.0})
    assert top == [("Scan parquet ", 2.0)]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in metrics.items())


def test_tail_is_never_below_p90():
    assert bench.tail(list(range(1, 13))) == (11, 100.0 * 11 / 12)
    value, pct = bench.tail(list(range(1, 201)))
    assert (value, pct) == (190, 95.0)  # ten samples beyond it


# -- real runs (opt-in) ------------------------------------------------------

slow = pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"), reason="set PERFBENCH_SLOW=1")


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0
    return line["metrics"]


@slow
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_real_run_prints_every_metric(workload):
    assert set(_run(workload, 4, 0)) == {m["name"] for m in SPEC["end_to_end"]}
    assert set(_run(workload, 4, 1)) == {m["name"] for m in SPEC["per_layer"]}


@slow
def test_counts_repeat_for_the_same_seed():
    a, b = _run("dashboard", 6, 1), _run("dashboard", 6, 1)
    for name in ("lang.py4j_calls", "exec.jobs", "lang.probe_jobs"):
        assert a[name]["value"] == b[name]["value"], name
