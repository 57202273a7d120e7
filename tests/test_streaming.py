"""Ingest / maintenance / output tests (SURVEY.md §3.4 write path).

Mirrors the reference's engine tests: ingest parsing + rejection
(TSDBDocumentTests), ooo/dedup behavior (TSDBEngine ooo cutoff +
SampleMerger), retention (TimeBasedRetentionTests), compaction
(SizeTieredCompactionTests), and the matrix response shape
(PromMatrixResponseListener javadoc format).
"""

from __future__ import annotations

import json
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from time_series_db_spark.model import SAMPLE_COLS, SeriesFrame, series_key_expr
from time_series_db_spark.operators import stats
from time_series_db_spark.output import to_matrix
from time_series_db_spark.sources import fetch_events
from time_series_db_spark.streaming import (
    DEFAULT_BLOCK_MS,
    INGEST_SCHEMA,
    SinkLoggedTableError,
    apply_retention,
    compact_blocks,
    ingest_batch,
    list_blocks,
    parse_ingest,
    read_metrics,
    start_ingest,
)

H = 3_600_000
T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _doc(labels: str, ts: int, value: float) -> str:
    return json.dumps({"labels": labels, "timestamp": ts, "value": value})


def test_parse_ingest_rejects_malformed(spark):
    docs = spark.createDataFrame(
        [
            ("name cpu host a", T0, 1.0),  # good
            ("", T0, 2.0),  # empty labels → TSDBEmptyLabelException analog
            (None, T0, 3.0),  # null labels
            ("name cpu host", T0, 4.0),  # odd token count
            ("name cpu", None, 5.0),  # null timestamp
        ],
        INGEST_SCHEMA,
    )
    rows = parse_ingest(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert dict(r["labels"]) == {"name": "cpu", "host": "a"}
    assert r["series_key"] == "host:a,name:cpu"
    assert r["block"] == T0 - T0 % DEFAULT_BLOCK_MS


def test_ingest_stream_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "metrics")
    # batch 1: two series, one duplicate (series, ts) → dedup keeps one
    (src / "b1.json").write_text(
        "\n".join(
            [
                _doc("name cpu host a", T0, 1.0),
                _doc("name cpu host a", T0, 99.0),  # dup (ANY_WINS)
                _doc("name cpu host b", T0 + H, 2.0),
                _doc("name mem host a", T0 + 3 * H, 3.0),
            ]
        )
    )
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(table)
    assert got.count() == 3  # duplicate dropped in-stream
    # block partitioning on disk (2h closed-index ranges)
    assert list_blocks(table) == [T0, T0 + 2 * H]

    # second micro-batch run picks up only new files (checkpoint)
    (src / "b2.json").write_text(
        "\n".join(
            [
                _doc("name cpu host a", T0, 50.0),  # cross-batch dup
                _doc("name cpu host a", T0 + 5 * H, 4.0),
            ]
        )
    )
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)

    # read-side ANY_WINS dedup collapses the cross-batch duplicate
    out = read_metrics(spark, table)
    assert out.count() == 4
    cpu_a = {
        r["ts"]: r["value"]
        for r in out.filter(F.col("series_key") == "host:a,name:cpu").collect()
    }
    assert set(cpu_a) == {T0, T0 + 5 * H}
    assert cpu_a[T0] in (1.0, 99.0, 50.0)  # ANY_WINS — some ingested value

    # time-pruned read: block + ts predicates
    pruned = read_metrics(spark, table, min_ts=T0 + 2 * H, max_ts=T0 + 4 * H)
    assert [r["ts"] for r in pruned.collect()] == [T0 + 3 * H]


def test_ingestion_lag_gauge(spark, tmp_path):
    """The tsdb_ingestion observed metric surfaces append/refresh lag per
    micro-batch (TSDBIngestionLagIndexingListener.java:152,254 analog):
    lag = wall time − sample event time, so samples stamped in the past
    show a gauge at least that far behind."""
    import time as _time

    from time_series_db_spark.streaming import ingestion_lag

    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "metrics")
    now_ms = int(_time.time() * 1000)
    behind_ms = 60_000
    (src / "b1.json").write_text(
        "\n".join(
            [
                _doc("name cpu host a", now_ms - behind_ms, 1.0),
                _doc("name cpu host b", now_ms, 2.0),
            ]
        )
    )
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)

    lag = ingestion_lag(q)
    assert lag is not None
    assert lag["n_samples"] == 2
    # oldest sample was ≥60s behind wall time when appended / committed
    assert lag["append_lag_max_ms"] >= behind_ms
    assert lag["refresh_lag_ms"] >= behind_ms
    assert lag["refresh_lag_ms"] < behind_ms + 600_000  # sane upper bound


def test_ingest_batch_and_retention(spark, tmp_path):
    table = str(tmp_path / "metrics")
    docs = spark.createDataFrame(
        [("name cpu", T0 + i * 2 * H, float(i)) for i in range(6)],
        INGEST_SCHEMA,
    )
    ingest_batch(spark, docs, table)
    assert len(list_blocks(table)) == 6

    # retention horizon now-4h: blocks fully older than horizon drop
    now = T0 + 12 * H
    dropped = apply_retention(table, 4 * H, now, DEFAULT_BLOCK_MS)
    # horizon = now-4h = T0+8h; blocks whose [block, block+2h) ends ≤ horizon
    assert dropped == [T0, T0 + 2 * H, T0 + 4 * H, T0 + 6 * H]
    kept = spark.read.parquet(table)
    assert kept.count() == 2
    assert kept.agg(F.min("ts")).first()[0] == T0 + 8 * H


def test_compaction_preserves_rows(spark, tmp_path):
    table = str(tmp_path / "metrics")
    # 5 separate appends → ≥5 files in the single block
    for i in range(5):
        docs = spark.createDataFrame(
            [(f"name cpu host h{i}", T0 + j * 60_000, float(i * 10 + j)) for j in range(4)],
            INGEST_SCHEMA,
        )
        ingest_batch(spark, docs, table)
    bdir = os.path.join(table, f"block={T0}")
    before_files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    assert len(before_files) >= 5
    before = sorted(
        tuple(r) for r in spark.read.parquet(table).select("series_key", "ts", "value").collect()
    )

    done = compact_blocks(spark, table)
    assert done == [T0]
    after_files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    assert len(after_files) < len(before_files)
    after = sorted(
        tuple(r) for r in spark.read.parquet(table).select("series_key", "ts", "value").collect()
    )
    assert after == before


@pytest.mark.parametrize("writer", ["compact", "retention", "append"])
def test_batch_writers_refuse_sink_logged_table(spark, tmp_path, writer):
    """Batch reads of a stream-written table list its files from the
    file sink's _spark_metadata log. Compacting it or dropping one of
    its two blocks would break the next read (FILE_NOT_EXIST), and a
    batch append would land files no read sees, so each of the three
    raises SinkLoggedTableError and the table reads as before."""
    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "metrics")
    (src / "b1.json").write_text(
        "\n".join(
            _doc(f"name cpu host h{i}", T0 + j * H, float(i * 10 + j))
            for i in range(3) for j in range(4)
        )
    )
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)
    assert list_blocks(table) == [T0, T0 + 2 * H]

    def rows():
        return sorted(tuple(r) for r in read_metrics(spark, table).collect())

    before = rows()
    assert len(before) == 12
    with pytest.raises(SinkLoggedTableError, match=re.escape(table)):
        if writer == "compact":
            compact_blocks(spark, table, min_files=1)
        elif writer == "retention":  # drops block T0 alone
            apply_retention(table, 2 * H, T0 + 4 * H, DEFAULT_BLOCK_MS)
        else:
            ingest_batch(spark, spark.createDataFrame(
                [("name cpu host h9", T0 + i * 60_000, float(i)) for i in range(10)],
                INGEST_SCHEMA,
            ), table)
    assert list_blocks(table) == [T0, T0 + 2 * H]
    assert rows() == before


def test_stats_sections(spark, sf_dir, duck):
    sf = fetch_events(spark, sf_dir)

    head = stats.head_stats(sf).first()
    o = duck.execute(
        """WITH s AS (
             SELECT event_type, user_id,
                    epoch_ms(ts) - epoch_ms(ts) % 3600000 AS g
             FROM events)
           SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT event_type, user_id FROM s)),
                  (SELECT COUNT(*) FROM (SELECT DISTINCT event_type, user_id, g FROM s)),
                  MIN(g), MAX(g) FROM s"""
    ).fetchone()
    assert head["num_series"] == o[0]
    assert head["num_samples"] == o[1]
    assert head["min_timestamp"] == o[2]
    assert head["max_timestamp"] == o[3]

    labels = {r["label"]: r["cardinality"] for r in stats.label_stats(sf).collect()}
    n_users = duck.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    assert labels["user"] == n_users
    assert labels["region"] == 4
    assert labels["shard"] == 2

    # approx path returns the same keys with near-exact counts (HLL++ at
    # default 5% rsd; tiny cardinalities are exact)
    approx = {r["label"]: r["cardinality"] for r in stats.label_stats(sf, approx=True).collect()}
    assert set(approx) == set(labels)
    assert approx["region"] == 4 and approx["shard"] == 2

    vals = stats.value_stats(sf).first()
    assert vals["num_values"] > 0
    assert vals["num_nan"] == 0
    assert vals["min_value"] <= vals["avg_value"] <= vals["max_value"]


def test_matrix_output_shape(spark):
    rows = [
        ({"name": "cpu", "host": "a"}, T0, 1.5),
        ({"name": "cpu", "host": "a"}, T0 + H, float("nan")),
        ({"name": "cpu", "host": "b"}, T0, float("inf")),
    ]
    df = (
        spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    sf = SeriesFrame(df=df, step=H, min_ts=T0, max_ts=T0 + 2 * H)
    m = to_matrix(sf)
    assert m["status"] == "success"
    assert m["data"]["resultType"] == "matrix"
    res = m["data"]["result"]
    assert len(res) == 2
    a, b = res  # series_key order: host:a before host:b
    assert a["metric"] == {"name": "cpu", "host": "a"}
    assert a["values"] == [[T0, "1.5"], [T0 + H, "NaN"]]
    assert a["step"] == H and a["start"] == T0 and a["end"] == T0 + 2 * H
    assert b["values"] == [[T0, "+Inf"]]
    assert json.dumps(m)  # wire-serializable


def test_matrix_respects_topk_order(spark, sf_dir):
    from time_series_db_spark.operators import grouping, ordering

    sf = fetch_events(spark, sf_dir)
    sf = grouping.sum_(sf, ["name"])
    sf = ordering.top_k(sf, 3, "sum", descending=True)
    m = to_matrix(sf)
    res = m["data"]["result"]
    assert len(res) == 3
    sums = [sum(float(v) for _, v in r["values"] if v != "NaN") for r in res]
    assert sums == sorted(sums, reverse=True)


def test_ooo_cutoff_drops_late_data(spark, tmp_path):
    """The watermark enforces the ooo cutoff across restarts: a sample
    arriving more than the cutoff behind the observed max event time is
    dropped (TSDBOutOfOrderException analog, TSDBPlugin.java:293).

    dropDuplicatesWithinWatermark evicts state older than the watermark;
    late rows beyond it are filtered by the dedup operator's pre-filter.
    The watermark persists in the checkpoint, so the second availableNow
    run starts with watermark = maxEventTime(batch1) - cutoff.
    """
    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "metrics")
    # batch 1 advances event time to T0+10h; watermark becomes T0+9h
    (src / "b1.json").write_text(
        "\n".join(
            [
                _doc("name cpu", T0, 1.0),
                _doc("name cpu", T0 + 10 * H, 2.0),
            ]
        )
    )
    q = start_ingest(spark, str(src), table, ooo_cutoff="1 hour", available_now=True)
    q.awaitTermination(120)

    # batch 2: one fresh sample, one 10h-late sample (before the watermark)
    (src / "b2.json").write_text(
        "\n".join(
            [
                _doc("name cpu", T0 + 11 * H, 3.0),
                _doc("name cpu", T0 + 1 * H, 99.0),  # late beyond cutoff
            ]
        )
    )
    q = start_ingest(spark, str(src), table, ooo_cutoff="1 hour", available_now=True)
    q.awaitTermination(120)

    got = {r["ts"]: r["value"] for r in spark.read.parquet(table).collect()}
    assert got[T0 + 11 * H] == 3.0
    assert T0 + 1 * H not in got  # late sample dropped by the cutoff
    # batch-1 rows intact
    assert got[T0] == 1.0 and got[T0 + 10 * H] == 2.0


def test_service_facade(spark, sf_dir):
    """m3ql/promql query_range + stats — the REST surface as Python API."""
    import json as _json

    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    end = EVENTS_MIN_TS + 24 * DEFAULT_STEP_MS

    m = service.m3ql_query_range(
        src, "fetch name:error | sum region",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    assert m["status"] == "success"
    assert m["data"]["resultType"] == "matrix"
    assert all(set(r["metric"]) == {"region"} for r in m["data"]["result"])
    assert _json.dumps(m)

    p = service.promql_query_range(
        src, 'sum by (region) (error)',
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    # same query, two languages → same series set and values
    assert {tuple(sorted(r["metric"].items())) for r in p["data"]["result"]} == {
        tuple(sorted(r["metric"].items())) for r in m["data"]["result"]
    }
    mv = {r["metric"]["region"]: r["values"] for r in m["data"]["result"]}
    pv = {r["metric"]["region"]: r["values"] for r in p["data"]["result"]}
    assert mv == pv

    plan = service.m3ql_query_range(
        src, "fetch name:error | sum region",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS, explain=True,
    )
    assert "Physical Plan" in plan

    st = service.tsdb_stats(fetch_events(spark, sf_dir))
    assert st["headStats"]["numSeries"] > 0
    assert set(st["labelStats"]) == {"name", "user", "region", "shard"}
    assert st["valueStats"]["numValues"] == st["headStats"]["numSamples"]

    # default time window (now-5m) resolves and validates
    try:
        service.m3ql_query_range(src, "fetch name:error", start=5, end=3)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_service_profile_and_metadata(spark, sf_dir):
    """profile:true returns per-stage wall time + sample counts
    (StageProfiler.java:30 / ProfileInfoMapper stages block);
    include_metadata=False strips the per-series step/start/end fields
    (RestM3QLAction.java:206-207 param defaults)."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    end = EVENTS_MIN_TS + 24 * DEFAULT_STEP_MS

    m = service.m3ql_query_range(
        src, "fetch name:error | moving 3h avg | sum region",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS, profile=True,
    )
    stages = m["profile"]["stages"]
    # fetch → moving → sum, plus the injected truncate (moving widens scan)
    assert [s["stage"] for s in stages] == ["fetch", "moving", "sum", "truncate"]
    for s in stages:
        assert s["output_samples"] > 0
        assert s["time_in_millis"] >= 0
    # profiled and unprofiled runs return identical matrices
    base = service.m3ql_query_range(
        src, "fetch name:error | moving 3h avg | sum region",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    assert m["data"] == base["data"]
    assert "profile" not in base

    bare = service.m3ql_query_range(
        src, "fetch name:error | sum region",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
        include_metadata=False,
    )
    for r in bare["data"]["result"]:
        assert "step" not in r and "start" not in r and "end" not in r
    p = service.promql_query_range(
        src, "sum by (region) (error)",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
        include_metadata=False, profile=True,
    )
    for r in p["data"]["result"]:
        assert "step" not in r and "alias" not in r
    # promql threads the same profile param (RestPromQLAction.java:232)
    assert [s["stage"] for s in p["profile"]["stages"]] == [
        "fetch", "sum", "truncate",
    ]


def _plan_stage_names(query: str) -> list:
    """Expected profile-stage sequence derived FROM THE PLAN (not a
    hardcoded golden): post-order walk emitting builder._stage_name per
    node, with fetch deduped by its cache key (BuildContext.fetch caches
    identical fetches, so the profiler records each distinct one once)
    and the conditional trailing truncate (execute() appends it only for
    scan-widening windows — SourceBuilderVisitor.java:528,596)."""
    from time_series_db_spark.lang.m3 import plan as P
    from time_series_db_spark.lang.m3.builder import _stage_name
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import build_plan

    names: list = []
    seen_fetch: set = set()

    def walk(node):
        if isinstance(node, P.FetchNode):
            key = repr((sorted(node.match.items()), sorted(node.inverse.items())))
            if key not in seen_fetch:
                seen_fetch.add(key)
                names.append("fetch")
            return
        for c in node.children:
            walk(c)
        names.append(_stage_name(node))

    plan = build_plan(parse(query))
    walk(plan)
    if any(
        isinstance(
            n,
            (P.MovingNode, P.PerSecondRateNode, P.BurnRateNode,
             P.MultiBurnRateNode, P.AsMultiBurnRateNode),
        )
        for n in _walk_plan(plan)
    ):
        names.append("truncate")
    return names


def _walk_plan(node):
    yield node
    for c in node.children:
        yield from _walk_plan(c)


def test_profile_stages_match_plan(spark, sf_dir):
    """StageProfiler drift gate (ProfileInfoMapper parity): for pipelines
    spanning mapper / window / agg / binary / ordering stages, the
    profile block's stage sequence must equal the sequence derived from
    the logical plan — so a builder refactor that stops (or double-)
    recording a stage fails here, not in a human-maintained golden."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    end = EVENTS_MIN_TS + 24 * DEFAULT_STEP_MS

    queries = [
        # window (injects truncate) + agg + mapper
        "fetch name:error | moving 3h avg | sum region | abs",
        # binary divide over a shared fetch (CSE: fetch recorded once)
        "fetch name:error | sum region | divide (fetch name:error | sum)",
        # ordering + label stage, no truncate expected
        "fetch name:login | sort max desc | head 5 | alias foo",
    ]
    for q in queries:
        m = service.m3ql_query_range(
            src, q, start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
            profile=True,
        )
        got = [s["stage"] for s in m["profile"]["stages"]]
        assert got == _plan_stage_names(q), q


def test_service_resolved_partitions(spark, sf_dir):
    """/_m3ql resolved_partitions body param: windows route the fetch
    through the federated source, overriding the default source."""
    from time_series_db_spark.service import m3ql_query_range
    from time_series_db_spark.sources import EVENTS_MIN_TS, EVENTS_MAX_TS

    windows = [
        {"partition": f"old:{sf_dir}", "start": EVENTS_MIN_TS,
         "end": EVENTS_MIN_TS + 20 * 86_400_000},
        {"partition": f"{sf_dir}", "start": EVENTS_MIN_TS + 10 * 86_400_000,
         "end": EVENTS_MAX_TS},
    ]
    out = m3ql_query_range(
        None, "fetch name:error | sum region",
        start=EVENTS_MIN_TS, end=EVENTS_MAX_TS, step=3_600_000,
        resolved_partitions=windows, spark=spark,
    )
    # overlap dedup: identical to the single-source result
    base = m3ql_query_range(
        None, "fetch name:error | sum region",
        start=EVENTS_MIN_TS, end=EVENTS_MAX_TS, step=3_600_000,
        resolved_partitions=[{"partition": sf_dir, "start": EVENTS_MIN_TS,
                              "end": EVENTS_MAX_TS}], spark=spark,
    )
    key = lambda s: sorted(s["metric"].items())
    assert sorted(out["data"]["result"], key=key) == sorted(
        base["data"]["result"], key=key
    )


def test_tsdb_stats_flat_format(spark, sf_dir):
    """format=flat (RestTSDBStatsAction VALID_FORMAT_OPTIONS) reshapes the
    same frame into the listener's sorted name/value arrays — both shapes
    from one frame, cross-checked against each other."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import fetch_events

    sf = fetch_events(spark, sf_dir)
    grouped = service.tsdb_stats(sf)
    flat = service.tsdb_stats(sf, format="flat")

    assert flat["headStats"] == grouped["headStats"]

    # seriesCountByMetricName: one entry per name value, summing to the
    # series total, sorted by count descending
    by_name = flat["seriesCountByMetricName"]
    assert sum(e["value"] for e in by_name) == grouped["headStats"]["numSeries"]
    assert [e["value"] for e in by_name] == sorted(
        (e["value"] for e in by_name), reverse=True
    )
    assert len(by_name) == grouped["labelStats"]["name"]

    # labelValueCountByLabelName agrees with the grouped cardinalities
    lvc = {e["name"]: e["value"] for e in flat["labelValueCountByLabelName"]}
    assert lvc == grouped["labelStats"]

    # memory estimate: ((len(name)*2+24) + (len(value)*2+24)) * numSeries
    pairs = {
        e["name"]: e["value"] for e in flat["seriesCountByLabelValuePair"]
    }
    expect_name_mem = sum(
        ((4 * 2 + 24) + (len(p.split("=", 1)[1]) * 2 + 24)) * v
        for p, v in pairs.items()
        if p.startswith("name=")
    )
    mem = {e["name"]: e["value"] for e in flat["memoryInBytesByLabelName"]}
    assert mem["name"] == expect_name_mem

    # pair counts per label sum to the series total each
    for lbl in grouped["labelStats"]:
        assert (
            sum(v for p, v in pairs.items() if p.startswith(f"{lbl}="))
            == grouped["headStats"]["numSeries"]
        )

    # include gating: valueStats off drops the pair array; bad format raises
    no_pairs = service.tsdb_stats(
        sf, include=("headStats", "labelStats"), format="flat"
    )
    assert "seriesCountByLabelValuePair" not in no_pairs
    try:
        service.tsdb_stats(sf, format="nested")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_batch_sessionize_semantics(spark):
    """Batch gap sessions: boundary exactly at the gap does NOT split
    (strictly-greater rule); session ids number per user in time order."""
    from time_series_db_spark.streaming.sessions import sessionize

    GAP = 1_800_000
    df = spark.createDataFrame(
        [(1, T0), (1, T0 + GAP), (1, T0 + GAP + GAP + 1),
         (2, T0 + 5 * H)],
        "user_id long, ts long",
    )
    got = {
        (r.user, r.session_id): (r.session_start, r.n_events)
        for r in sessionize(df, gap_ms=GAP).collect()
    }
    assert got == {
        (1, 1): (T0, 2),             # gap == GAP merges
        (1, 2): (T0 + 2 * GAP + 1, 1),
        (2, 1): (T0 + 5 * H, 1),
    }


def test_ingest_to_m3ql_query_loop(spark, tmp_path):
    """The reference's full lifecycle on our engine: bulk docs →
    ingest → M3QL and PromQL queries through the language
    front-ends via MetricsSource — with tag wildcards, negation, a
    grouped aggregation, and a window stage."""
    from time_series_db_spark import service
    from time_series_db_spark.lang.m3.builder import execute as m3ql
    from time_series_db_spark.lang.prom.builder import execute as promql
    from time_series_db_spark.sources.m3source import MetricsSource
    from time_series_db_spark.streaming import INGEST_SCHEMA, ingest_batch

    docs = spark.createDataFrame(
        [(f"name req host h{i % 2} dc {'east' if i % 3 else 'west'}",
          T0 + j * H, float(10 * i + j))
         for i in range(4) for j in range(4)]
        + [(f"name err host h0 dc east", T0 + j * H, float(j)) for j in range(4)],
        INGEST_SCHEMA,
    )
    table = str(tmp_path / "loop")
    ingest_batch(spark, docs, table)
    src = MetricsSource(spark, table)
    end = T0 + 4 * H

    sf = m3ql("fetch name:req dc:east | sum host", src, T0, end, H)
    rows = {(r.labels["host"], r.ts): r.value for r in sf.df.collect()}
    # east = i in {1,2} → host h1 (i=1) and h0 (i=2)
    assert rows[("h1", T0)] == 10.0 and rows[("h0", T0)] == 20.0
    assert rows[("h1", T0 + 3 * H)] == 13.0

    # wildcard + negation through the same path
    sf = m3ql("fetch name:* host:!h1 | sum", src, T0, end, H)
    got = {r.ts: r.value for r in sf.df.collect()}
    # h0 series: req i∈{0,2} + err → (0+j)+(20+j)+j at each step
    assert got[T0] == 20.0 and got[T0 + 1 * H] == 23.0

    # a window stage over the ingested store
    sf = m3ql("fetch name:err | derivative", src, T0, end, H)
    assert {r.value for r in sf.df.collect()} == {1.0}

    # PromQL against the same source
    sf = promql('sum by (dc) (req{host=~"h.*"})', src, T0, end, H)
    by_dc = {(r.labels["dc"], r.ts): r.value for r in sf.df.collect()}
    assert by_dc[("west", T0)] == 30.0   # i=0 (10*0) + i=3 (30)
    assert by_dc[("east", T0)] == 30.0   # i=1 + i=2

    # and the service facade end-to-end (matrix JSON shape)
    m = service.m3ql_query_range(
        src, "fetch name:err | sum", start=T0, end=end, step=H,
    )
    assert m["status"] == "success"
    [series] = m["data"]["result"]
    assert [v for _, v in series["values"]] == ["0", "1", "2", "3"]


def test_service_promql_r5_surface(spark, sf_dir):
    """Subqueries, the @ modifier, and count_values through the REST
    facade: response shape + the @-constant-line property end-to-end."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    end = EVENTS_MIN_TS + 24 * DEFAULT_STEP_MS

    sq = service.promql_query_range(
        src, "max_over_time(view[6h:1h])",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    assert sq["status"] == "success" and sq["data"]["result"]

    at = service.promql_query_range(
        src, "sum by (region) (view @ end())",
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    for series in at["data"]["result"]:
        assert len({v for _, v in series["values"]}) == 1  # constant line

    cv = service.promql_query_range(
        src, 'count_values("v", round(view))',
        start=EVENTS_MIN_TS, end=end, step=DEFAULT_STEP_MS,
    )
    assert all(set(r["metric"]) == {"v"} for r in cv["data"]["result"])


def test_promql_instant_query_vector(spark, sf_dir):
    """promql_query evaluates at ONE instant with lookback and returns
    the Prometheus vector wire shape; each series reports its most
    recent grid emission at or before the instant, agreeing with the
    equivalent query_range matrix."""
    import json as _json

    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    step = DEFAULT_STEP_MS  # 1h grid: events are dense at this step
    t = EVENTS_MIN_TS + 2 * DEFAULT_STEP_MS
    look = 2 * DEFAULT_STEP_MS
    v = service.promql_query(
        src, "sum by (region) (error)", time_ms=t, step=step, lookback_ms=look
    )
    assert v["status"] == "success"
    assert v["data"]["resultType"] == "vector"
    assert v["data"]["result"], "instant query returned no series"
    assert all(r["value"][0] == t for r in v["data"]["result"])
    assert _json.dumps(v)

    m = service.promql_query_range(
        src, "sum by (region) (error)",
        start=t - look, end=t + step, step=step, include_metadata=False,
    )
    expect = {}
    for r in m["data"]["result"]:
        at = [val for ts, val in r["values"] if ts <= t]
        if at:
            expect[tuple(sorted(r["metric"].items()))] = at[-1]
    got = {
        tuple(sorted(r["metric"].items())): r["value"][1]
        for r in v["data"]["result"]
    }
    assert got == expect

    # range function at an instant: full window ending at the grid point
    # (instant chosen where a sparse sf0.001 series has >= 2 samples in
    # its 3h window — the first emission of the promql_rate catalog run)
    t3 = EVENTS_MIN_TS + 7 * DEFAULT_STEP_MS
    rv = service.promql_query(
        src, "rate(error[3h])", time_ms=t3, step=step,
        lookback_ms=DEFAULT_STEP_MS,
    )
    assert rv["data"]["result"] and all(
        r["value"][0] == t3 for r in rv["data"]["result"]
    )


def test_downsample_rollup_stream(spark, tmp_path):
    """Ingest stream → 5m-windowed rollup table: every aggregation
    computed in one pass, window-start timestamps, block partitioning,
    and the namespace-style read returning a metrics-shaped frame."""
    from time_series_db_spark.streaming.downsample import (
        read_rollup,
        start_downsample,
    )

    src = tmp_path / "in"
    src.mkdir()
    rollup = str(tmp_path / "rollup_5m")
    M5 = 300_000
    docs = [
        # series cpu/a: 3 samples in window 0, 1 in window 2
        _doc("name cpu host a", T0 + 10_000, 1.0),
        _doc("name cpu host a", T0 + 20_000, 5.0),
        _doc("name cpu host a", T0 + 250_000, 3.0),
        _doc("name cpu host a", T0 + 2 * M5 + 1_000, 7.0),
        # series mem/b: 1 sample in window 0
        _doc("name mem host b", T0 + 60_000, 11.0),
    ]
    (src / "b1.json").write_text("\n".join(docs))
    q = start_downsample(
        spark, str(src), rollup, resolution_ms=M5, available_now=True
    )
    q.awaitTermination(120)
    # append mode emits a window only once the watermark (max event time
    # − ooo cutoff) passes its END — a later batch advances it past every
    # real window; the sentinel's own window stays open and unflushed
    (src / "b2.json").write_text(_doc("name sentinel host z", T0 + 10 * H, 0.0))
    q = start_downsample(
        spark, str(src), rollup, resolution_ms=M5, available_now=True
    )
    q.awaitTermination(120)

    rows = {
        (r["series_key"], r["ts"]): r
        for r in spark.read.parquet(rollup).collect()
    }
    assert set(rows) == {
        ("host:a,name:cpu", T0), ("host:a,name:cpu", T0 + 2 * M5),
        ("host:b,name:mem", T0),
    }
    w0 = rows[("host:a,name:cpu", T0)]
    assert w0["value_sum"] == 9.0 and w0["value_count"] == 3.0
    assert w0["value_min"] == 1.0 and w0["value_max"] == 5.0
    assert w0["value_last"] == 3.0  # max_by ts
    assert dict(w0["labels"]) == {"name": "cpu", "host": "a"}
    assert w0["block"] == T0  # block partitioning like the raw table

    # namespace read: metrics-shaped frame with the chosen aggregation
    out = read_rollup(spark, rollup, agg="last")
    got = {(r["series_key"], r["ts"]): r["value"] for r in out.collect()}
    assert got[("host:a,name:cpu", T0)] == 3.0
    assert got[("host:b,name:mem", T0)] == 11.0
    assert out.columns == ["series_key", "labels", "ts", "value"]

    # time-pruned read
    pruned = read_rollup(spark, rollup, agg="sum", min_ts=T0 + M5)
    assert [r["ts"] for r in pruned.collect()] == [T0 + 2 * M5]

    with pytest.raises(ValueError, match="agg must be one of"):
        read_rollup(spark, rollup, agg="median")


def test_rollup_namespace_selection(spark, tmp_path):
    """MetricsSource with rollup namespaces: a coarse-grid query reads
    the rollup table (scan reduction — the aggregated-namespace point),
    a fine-grid query reads raw, and at equal LWW semantics both give
    the same values on the coarse grid."""
    from time_series_db_spark import service
    from time_series_db_spark.sources.m3source import MetricsSource
    from time_series_db_spark.streaming.downsample import start_downsample
    from time_series_db_spark.streaming.ingest import start_ingest

    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "metrics")
    rollup = str(tmp_path / "rollup_5m")
    M5 = 300_000
    docs = [
        _doc("name cpu host a", T0 + 10_000, 1.0),
        _doc("name cpu host a", T0 + 20_000, 5.0),      # LWW in 5m w0
        _doc("name cpu host a", T0 + M5 + 30_000, 2.0),
        _doc("name cpu host b", T0 + 15_000, 7.0),
    ]
    (src / "b1.json").write_text("\n".join(docs))
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)
    q = start_downsample(spark, str(src), rollup, resolution_ms=M5,
                         available_now=True)
    q.awaitTermination(120)
    # closer doc advances the watermark so the rollup windows flush
    (src / "b2.json").write_text(_doc("name closer host z", T0 + 10 * H, 0.0))
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)
    q = start_downsample(spark, str(src), rollup, resolution_ms=M5,
                         available_now=True)
    q.awaitTermination(120)

    ns = MetricsSource(
        spark, table,
        rollups=[{"path": rollup, "resolution_ms": M5, "agg": "last"}],
    )
    raw_only = MetricsSource(spark, table)

    # coarse grid (1h >= 5m): reads the rollup table
    sf = ns.fetch({"name": ["cpu"]}, {}, T0, T0 + 2 * H, H)
    assert any("rollup_5m" in f for f in sf.df.inputFiles())
    coarse = {
        (r["series_key"], r["ts"]): r["value"] for r in sf.df.collect()
    }
    sf_raw = raw_only.fetch({"name": ["cpu"]}, {}, T0, T0 + 2 * H, H)
    assert not any("rollup_5m" in f for f in sf_raw.df.inputFiles())
    assert coarse == {
        (r["series_key"], r["ts"]): r["value"] for r in sf_raw.df.collect()
    }
    assert coarse[("host:a,name:cpu", T0)] == 2.0  # LWW across windows

    # fine grid (10s < 5m): raw table, rollup untouched
    sf_fine = ns.fetch({"name": ["cpu"]}, {}, T0, T0 + M5, 10_000)
    assert not any("rollup_5m" in f for f in sf_fine.df.inputFiles())
    assert len(sf_fine.df.collect()) == 3  # each raw sample own bucket

    # full language path over the rollup namespace
    m = service.m3ql_query_range(
        ns, "fetch name:cpu | sum host", start=T0, end=T0 + H, step=H,
    )
    vals = {r["metric"]["host"]: r["values"] for r in m["data"]["result"]}
    assert vals["a"] == [[T0, "2"]] and vals["b"] == [[T0, "7"]]

    with pytest.raises(ValueError, match="resolution_ms"):
        MetricsSource(spark, table, rollups=[{"path": rollup, "resolution_ms": 0}])


def test_prom_metadata_endpoints(spark, sf_dir):
    """/api/v1/labels, /label/<name>/values, /series — wire shapes and
    selector filtering through the normal PromQL path."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, sf_dir)
    s, e = EVENTS_MIN_TS, EVENTS_MIN_TS + 24 * DEFAULT_STEP_MS

    labs = service.prom_labels(src, start=s, end=e)
    assert labs["status"] == "success"
    assert labs["data"] == sorted(labs["data"])
    assert {"name", "region"} <= set(labs["data"])

    vals = service.prom_label_values(src, "name", start=s, end=e)
    assert "error" in vals["data"] and vals["data"] == sorted(vals["data"])
    # selector-filtered: only the matching metric's label values remain
    only = service.prom_label_values(
        src, "name", match=['{__name__="error"}'], start=s, end=e
    )
    assert only["data"] == ["error"]

    ser = service.prom_series(src, ['{__name__="error"}'], start=s, end=e)
    assert ser["data"] and all(m["name"] == "error" for m in ser["data"])
    assert len({tuple(sorted(m.items())) for m in ser["data"]}) == len(ser["data"])

    with pytest.raises(ValueError, match="match"):
        service.prom_series(src, [], start=s, end=e)
    with pytest.raises(ValueError, match="label name"):
        service.prom_label_values(src, "", start=s, end=e)


def test_recording_rule_stream_and_backfill(spark, tmp_path):
    """Recording rules end-to-end: the streaming leg records the
    windowed aggregation for matched series only; the batch backfill
    over the raw store produces the same rows; and the recorded series
    are queryable through MetricsSource + M3QL like any metric."""
    from time_series_db_spark import service
    from time_series_db_spark.sources.m3source import MetricsSource
    from time_series_db_spark.streaming.ingest import start_ingest
    from time_series_db_spark.streaming.rules import (
        apply_rule_frame,
        backfill_recording_rule,
        compile_rule,
        start_recording_rule,
    )

    M5 = 300_000
    rule = {
        "record": "region:error:sum",
        "match": {"name": ["error"]},
        "group_by": ["region"],
        "agg": "sum",
        "resolution_ms": M5,
    }

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "recorded")
    table = str(tmp_path / "metrics")
    docs = [
        _doc("name error region east", T0 + 10_000, 1.0),
        _doc("name error region east", T0 + 20_000, 2.0),
        _doc("name error region west", T0 + 30_000, 5.0),
        _doc("name error region east", T0 + M5 + 1_000, 7.0),
        _doc("name request region east", T0 + 10_000, 100.0),  # unmatched
        _doc("name error host nolabel", T0 + 10_000, 9.0),  # no region
    ]
    (src / "b1.json").write_text("\n".join(docs))
    q = start_recording_rule(
        spark, str(src), out, rule, available_now=True
    )
    q.awaitTermination(120)
    # advance the watermark past the real windows. The sentinel must
    # MATCH the rule: the tag filter pushes below the watermark node, so
    # only matched samples advance the rule's event clock (rules.py
    # watermark-scope note); its own window stays open and unflushed
    (src / "b2.json").write_text(_doc("name error region zz", T0 + 10 * H, 0.0))
    q = start_recording_rule(
        spark, str(src), out, rule, available_now=True
    )
    q.awaitTermination(120)

    rows = {
        (r["series_key"], r["ts"]): r for r in spark.read.parquet(out).collect()
    }
    assert set(rows) == {
        ("name:region:error:sum,region:east", T0),
        ("name:region:error:sum,region:west", T0),
        ("name:region:error:sum,region:east", T0 + M5),
    }
    assert rows[("name:region:error:sum,region:east", T0)]["value"] == 3.0
    assert rows[("name:region:error:sum,region:west", T0)]["value"] == 5.0
    assert rows[("name:region:error:sum,region:east", T0 + M5)]["value"] == 7.0
    east = rows[("name:region:error:sum,region:east", T0)]
    assert dict(east["labels"]) == {"name": "region:error:sum", "region": "east"}
    assert east["block"] == T0

    # batch backfill over the raw store gives the SAME rows (restricted
    # to the same sample set; the sentinel lands in its own window)
    q = start_ingest(spark, str(src), table, available_now=True)
    q.awaitTermination(120)
    out2 = str(tmp_path / "recorded_backfill")
    n = backfill_recording_rule(
        spark, table, out2, rule, min_ts=T0, max_ts=T0 + 2 * M5
    )
    assert n == 3
    back = {
        (r["series_key"], r["ts"]): r["value"]
        for r in spark.read.parquet(out2).collect()
    }
    assert back == {k: rows[k]["value"] for k in rows}

    # the recorded series are ordinary metrics: query through M3QL
    rsrc = MetricsSource(spark, out)
    resp = service.m3ql_query_range(
        rsrc,
        'fetch name:"region:error:sum" region:east',
        T0,
        T0 + 2 * M5,
        M5,
    )
    vals = {
        p[0]: float(p[1])
        for s in resp["data"]["result"]
        for p in s["values"]
    }
    assert vals == {T0: 3.0, T0 + M5: 7.0}

    # validation surface
    with pytest.raises(ValueError, match="agg"):
        compile_rule({"record": "x", "agg": "median", "resolution_ms": M5})
    with pytest.raises(ValueError, match="record"):
        compile_rule({"agg": "sum", "resolution_ms": M5})
    with pytest.raises(ValueError, match="resolution_ms"):
        compile_rule({"record": "x", "agg": "sum"})
    with pytest.raises(ValueError, match="group_by"):
        compile_rule(
            {"record": "x", "agg": "sum", "resolution_ms": M5,
             "group_by": ["name"]}
        )
    # apply_rule_frame drops series missing a group_by label
    raw = read_metrics(spark, table)
    applied = apply_rule_frame(raw, rule)
    keys = {r["series_key"] for r in applied.collect()}
    assert all("region:" in k for k in keys)


def test_alert_rule_batch_state_machine(spark):
    """Gaps-and-islands alert evaluation: pending until for_windows
    consecutive breaches, firing after, reset on a gap or a healthy
    window; ALERTS-series labels per the Prometheus contract."""
    from time_series_db_spark.streaming.rules import (
        compile_alert,
        evaluate_alert_frame,
    )

    M5 = 300_000
    spec = {
        "alert": "HighErrors",
        "rule": {"record": "r", "agg": "sum", "resolution_ms": M5},
        "op": ">",
        "threshold": 10.0,
        "for_windows": 2,
        "labels": {"severity": "page"},
    }
    rows = [
        # series A: breach, breach, healthy, breach → pending, firing, -, pending
        ("name:r,region:east", {"name": "r", "region": "east"}, T0 + 0 * M5, 20.0),
        ("name:r,region:east", {"name": "r", "region": "east"}, T0 + 1 * M5, 30.0),
        ("name:r,region:east", {"name": "r", "region": "east"}, T0 + 2 * M5, 5.0),
        ("name:r,region:east", {"name": "r", "region": "east"}, T0 + 3 * M5, 40.0),
        # series B: breach, GAP (missing window), breach → both pending
        ("name:r,region:west", {"name": "r", "region": "west"}, T0 + 0 * M5, 99.0),
        ("name:r,region:west", {"name": "r", "region": "west"}, T0 + 2 * M5, 99.0),
    ]
    df = spark.createDataFrame(
        [(k, l, t, v, t - t % DEFAULT_BLOCK_MS) for k, l, t, v in rows],
        "series_key string, labels map<string,string>, ts long, value double, block long",
    )
    out = {
        (r["labels"]["region"], r["ts"]): r
        for r in evaluate_alert_frame(df, spec).collect()
    }
    states = {k: v["labels"]["alertstate"] for k, v in out.items()}
    assert states == {
        ("east", T0 + 0 * M5): "pending",
        ("east", T0 + 1 * M5): "firing",
        ("east", T0 + 3 * M5): "pending",  # run reset by healthy window
        ("west", T0 + 0 * M5): "pending",
        ("west", T0 + 2 * M5): "pending",  # run reset by the GAP
    }
    sample = out[("east", T0 + 1 * M5)]
    assert sample["value"] == 1.0
    assert dict(sample["labels"]) == {
        "region": "east", "alertname": "HighErrors",
        "alertstate": "firing", "severity": "page",
    }
    assert "name" not in dict(sample["labels"])  # record name dropped

    # validation
    with pytest.raises(ValueError, match="op"):
        compile_alert({**spec, "op": "~"})
    with pytest.raises(ValueError, match="for_windows"):
        compile_alert({**spec, "for_windows": 0})
    with pytest.raises(ValueError, match="reserved"):
        compile_alert({**spec, "labels": {"alertstate": "x"}})


def test_alert_rule_stream_appends_once_per_window(spark, tmp_path):
    """Streaming alerts: rule windows aggregate in-stream; each closed
    window appends EXACTLY ONE alert row with the state known at that
    window — later batches never rewrite history (pending rows stay
    pending after the alert fires)."""
    from time_series_db_spark.streaming.rules import start_alert_rule

    M5 = 300_000
    spec = {
        "alert": "HighErrors",
        "rule": {
            "record": "region:error:sum",
            "match": {"name": ["error"]},
            "group_by": ["region"],
            "agg": "sum",
            "resolution_ms": M5,
        },
        "op": ">",
        "threshold": 10.0,
        "for_windows": 2,
    }
    src = tmp_path / "in"
    src.mkdir()
    rule_path = str(tmp_path / "rule")
    alerts_path = str(tmp_path / "alerts")

    # batch 1: windows 0 and 1 breach (flushed after batch 2 advances
    # the watermark); window 0 closes with run=1 → pending
    (src / "b1.json").write_text(
        "\n".join(
            [
                _doc("name error region east", T0 + 10_000, 20.0),
                _doc("name error region east", T0 + M5 + 10_000, 30.0),
            ]
        )
    )
    q = start_alert_rule(
        spark, str(src), rule_path, alerts_path, spec, available_now=True
    )
    q.awaitTermination(120)
    # batch 2: window 2 breaches too; watermark passes windows 0-1
    (src / "b2.json").write_text(
        _doc("name error region east", T0 + 2 * M5 + 10_000, 40.0)
    )
    q = start_alert_rule(
        spark, str(src), rule_path, alerts_path, spec, available_now=True
    )
    q.awaitTermination(120)
    # batch 3: sentinel closes window 2
    (src / "b3.json").write_text(
        _doc("name error region east", T0 + 10 * H, 0.0)
    )
    q = start_alert_rule(
        spark, str(src), rule_path, alerts_path, spec, available_now=True
    )
    q.awaitTermination(120)

    rows = sorted(
        (r["ts"], r["labels"]["alertstate"])
        for r in spark.read.parquet(alerts_path).collect()
        if r["labels"]["region"] == "east"
    )
    # exactly one row per closed window; window 0 stays pending even
    # though the alert fired later
    assert rows == [
        (T0 + 0 * M5, "pending"),
        (T0 + 1 * M5, "firing"),
        (T0 + 2 * M5, "firing"),
    ]


def test_prom_rules_endpoint(spark, tmp_path):
    """/api/v1/rules facade: recording + alerting definitions; alert
    state aggregated from the alerts store's latest row per series
    (firing wins over pending; no rows → inactive)."""
    from time_series_db_spark import service
    from time_series_db_spark.streaming.rules import (
        apply_rule_frame,
        evaluate_alert_frame,
    )

    M5 = 300_000
    rule = {"record": "region:error:sum", "match": {"name": ["error"]},
            "group_by": ["region"], "agg": "sum", "resolution_ms": M5}
    spec = {"alert": "High", "rule": rule, "op": ">", "threshold": 10.0,
            "for_windows": 2, "labels": {"severity": "page"}}
    samples = spark.createDataFrame(
        [
            ({"name": "error", "region": "east"}, T0 + 10_000, 20.0),
            ({"name": "error", "region": "east"}, T0 + M5 + 10_000, 30.0),
            ({"name": "error", "region": "west"}, T0 + 10_000, 99.0),
        ],
        "labels map<string,string>, ts long, value double",
    ).withColumn("series_key", series_key_expr()).withColumn(
        "block", F.col("ts") - F.col("ts") % DEFAULT_BLOCK_MS
    )
    alerts_path = str(tmp_path / "alerts")
    evaluate_alert_frame(
        apply_rule_frame(samples, rule), spec
    ).write.partitionBy("block").parquet(alerts_path)

    out = service.prom_rules(
        spark, [rule], [spec], alerts_path, now_ms=T0 + 2 * M5
    )
    rules = out["data"]["groups"][0]["rules"]
    assert [r["type"] for r in rules] == ["recording", "alerting"]
    assert rules[0]["name"] == "region:error:sum"
    al = rules[1]
    assert al["state"] == "firing"  # east fired; firing wins over pending
    states = {a["labels"]["region"]: a["state"] for a in al["alerts"]}
    assert states == {"east": "firing", "west": "pending"}
    assert al["labels"] == {"severity": "page"}

    # staleness horizon: an alert whose LAST row is older than
    # staleness_windows × resolution stopped emitting — Prometheus
    # ALERTS semantics say absent = resolved, so it must NOT report
    # active forever off a stale last row
    stale = service.prom_rules(
        spark, [rule], [spec], alerts_path, now_ms=T0 + 10 * M5
    )
    assert stale["data"]["groups"][0]["rules"][1]["state"] == "inactive"
    assert stale["data"]["groups"][0]["rules"][1]["alerts"] == []

    # no alerts store → inactive
    empty = service.prom_rules(
        spark, [rule], [spec], str(tmp_path / "none"), now_ms=T0 + 2 * M5
    )
    assert empty["data"]["groups"][0]["rules"][1]["state"] == "inactive"


def test_backfill_rules_group_single_scan(spark, tmp_path):
    """A rule group backfills over one shared scan and produces exactly
    the union of the per-rule backfills; duplicate record names are
    rejected."""
    from time_series_db_spark.streaming.ingest import ingest_batch
    from time_series_db_spark.streaming.rules import (
        apply_rule_frame,
        backfill_rules,
    )

    M5 = 300_000
    table = str(tmp_path / "metrics")
    docs = spark.createDataFrame(
        [
            ("name error region east", T0 + 10_000, 1.0),
            ("name error region east", T0 + 20_000, 2.0),
            ("name error region west", T0 + 30_000, 5.0),
            ("name request region east", T0 + 40_000, 7.0),
        ],
        INGEST_SCHEMA,
    )
    ingest_batch(spark, docs, table)
    r1 = {"record": "err:sum", "match": {"name": ["error"]},
          "group_by": ["region"], "agg": "sum", "resolution_ms": M5}
    r2 = {"record": "all:count", "group_by": [], "agg": "count",
          "resolution_ms": M5}
    out_dir = str(tmp_path / "recorded")
    counts = backfill_rules(spark, table, out_dir, [r1, r2])
    assert counts == {"err:sum": 2, "all:count": 1}
    got = {
        (r["series_key"], r["ts"]): r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[("name:err:sum,region:east", T0)] == 3.0
    assert got[("name:err:sum,region:west", T0)] == 5.0
    assert got[("name:all:count", T0)] == 4.0

    with pytest.raises(ValueError, match="duplicate record"):
        backfill_rules(spark, table, out_dir, [r1, r1])


def test_recording_rule_equals_query_path(spark, tmp_path):
    """Cross-layer invariant: a recorded ``sum by region`` series equals
    the query path's own `fetch | sum region` over the same store at the
    rule's resolution — the write-path aggregation and the read-path
    aggregation are the same function."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.sources.m3source import MetricsSource
    from time_series_db_spark.streaming.ingest import ingest_batch
    from time_series_db_spark.streaming.rules import backfill_recording_rule

    M5 = 300_000
    table = str(tmp_path / "metrics")
    rows = []
    for w in range(4):
        for r_i, region in enumerate(["east", "west"]):
            for k in range(3):
                rows.append(
                    (
                        f"name error region {region} host h{k}",
                        T0 + w * M5 + k * 10_000,
                        float(w * 10 + r_i + k),
                    )
                )
    ingest_batch(spark, spark.createDataFrame(rows, INGEST_SCHEMA), table)

    rule = {"record": "region:error:sum", "match": {"name": ["error"]},
            "group_by": ["region"], "agg": "sum", "resolution_ms": M5}
    out_dir = str(tmp_path / "recorded")
    backfill_recording_rule(spark, table, out_dir, rule)
    recorded = {
        (r["labels"]["region"], r["ts"]): r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }

    src = MetricsSource(spark, table)
    sf = execute(
        "fetch name:error | sum region", src, T0, T0 + 4 * M5, M5
    )
    queried = {
        (r["labels"]["region"], r["ts"]): r["value"] for r in sf.df.collect()
    }
    assert recorded == queried and len(recorded) == 8


def test_alert_for_ms_duration(spark):
    """Prometheus `for:` duration sugar: for_ms rounds UP to whole rule
    windows (700s at 5m resolution → 3 windows); 0 → fire immediately;
    both forms together are rejected."""
    from time_series_db_spark.streaming.rules import compile_alert

    rule = {"record": "r", "agg": "sum", "resolution_ms": 300_000}
    base = {"alert": "A", "rule": rule, "op": ">", "threshold": 1.0}
    assert compile_alert({**base, "for_ms": 700_000})["for_windows"] == 3
    assert compile_alert({**base, "for_ms": 600_000})["for_windows"] == 2
    assert compile_alert({**base, "for_ms": 0})["for_windows"] == 1
    with pytest.raises(ValueError, match="not both"):
        compile_alert({**base, "for_ms": 1, "for_windows": 2})


def test_maintenance_applies_to_rule_tables(spark, tmp_path):
    """Retention and compaction are table-generic: a recorded-rule table
    (block-partitioned like raw) ages out and compacts with the same
    maintenance jobs — the separate-namespace retention story."""
    from time_series_db_spark.streaming.ingest import ingest_batch
    from time_series_db_spark.streaming.maintenance import (
        apply_retention,
        compact_blocks,
        list_blocks,
    )
    from time_series_db_spark.streaming.rules import backfill_recording_rule

    table = str(tmp_path / "metrics")
    docs = spark.createDataFrame(
        [
            ("name error region east", T0 + 10_000, 1.0),
            ("name error region east", T0 + 3 * H, 2.0),  # next block
        ],
        INGEST_SCHEMA,
    )
    ingest_batch(spark, docs, table)
    rule = {"record": "r:sum", "match": {"name": ["error"]},
            "group_by": ["region"], "agg": "sum", "resolution_ms": H}
    out_dir = str(tmp_path / "recorded")
    backfill_recording_rule(spark, table, out_dir, rule)
    blocks = list_blocks(out_dir)
    assert len(blocks) == 2
    # compaction: rewrite whatever blocks qualify, rows preserved
    before = spark.read.parquet(out_dir).count()
    compact_blocks(spark, out_dir, min_files=1, blocks=blocks[:1])
    assert spark.read.parquet(out_dir).count() == before
    # retention: the older block ages out alone
    dropped = apply_retention(
        out_dir, retention_ms=2 * H, now_ms=T0 + 4 * H,
        block_ms=DEFAULT_BLOCK_MS,
    )
    assert dropped == [blocks[0]]
    assert list_blocks(out_dir) == blocks[1:]


def test_cascade_rollup_tiers(spark, tmp_path):
    """raw → 5m → 15m cascading tiers: the coarse tier folds fine rollup
    rows by each aggregation's combine rule and equals what direct
    aggregation of the raw samples would give; duplicate fine rows
    (checkpoint replay) are pre-merged, never double-counted."""
    from time_series_db_spark.streaming.downsample import (
        cascade_rollup,
        read_rollup,
        start_downsample,
    )

    src = tmp_path / "in"
    src.mkdir()
    fine = str(tmp_path / "rollup_5m")
    coarse = str(tmp_path / "rollup_15m")
    M5 = 300_000
    docs = [
        _doc("name cpu host a", T0 + 10_000, 1.0),       # 5m window 0
        _doc("name cpu host a", T0 + M5 + 10_000, 5.0),  # window 1
        _doc("name cpu host a", T0 + 2 * M5 + 10_000, 3.0),  # window 2
        _doc("name cpu host a", T0 + 3 * M5 + 10_000, 7.0),  # next 15m
    ]
    (src / "b1.json").write_text("\n".join(docs))
    q = start_downsample(spark, str(src), fine, resolution_ms=M5,
                         available_now=True)
    q.awaitTermination(120)
    (src / "b2.json").write_text(_doc("name cpu host z", T0 + 10 * H, 0.0))
    q = start_downsample(spark, str(src), fine, resolution_ms=M5,
                         available_now=True)
    q.awaitTermination(120)

    n = cascade_rollup(spark, fine, coarse, resolution_ms=3 * M5)
    rows = {
        (r["series_key"], r["ts"]): r
        for r in spark.read.parquet(coarse).collect()
    }
    w0 = rows[("host:a,name:cpu", T0)]
    assert w0["value_sum"] == 9.0 and w0["value_count"] == 3.0
    assert w0["value_min"] == 1.0 and w0["value_max"] == 5.0
    assert w0["value_last"] == 3.0  # latest fine window's last
    w1 = rows[("host:a,name:cpu", T0 + 3 * M5)]
    assert (w1["value_sum"], w1["value_count"]) == (7.0, 1.0)
    assert n == len(rows)

    # duplicate fine rows (simulated checkpoint replay) pre-merge by
    # any-one-row: a COPY table without the streaming _spark_metadata
    # log (an appended duplicate to the sink itself is invisible — batch
    # reads honor the log), every row doubled, must yield the same tier
    fine_df = spark.read.parquet(fine)
    fine_dup = str(tmp_path / "rollup_5m_dup")
    fine_df.unionAll(fine_df).write.partitionBy("block").parquet(fine_dup)
    coarse2 = str(tmp_path / "rollup_15m_v2")
    cascade_rollup(spark, fine_dup, coarse2, resolution_ms=3 * M5)
    again = {
        (r["series_key"], r["ts"]): r
        for r in spark.read.parquet(coarse2).collect()
    }
    for k in rows:
        for c in ("value_sum", "value_count", "value_min", "value_max"):
            assert again[k][c] == rows[k][c], (k, c)

    # the coarse tier reads back through the namespace reader
    got = read_rollup(spark, coarse, agg="sum")
    vals = {(r["series_key"], r["ts"]): r["value"] for r in got.collect()}
    assert vals[("host:a,name:cpu", T0)] == 9.0

    with pytest.raises(ValueError, match="resolution_ms"):
        cascade_rollup(spark, fine, coarse, resolution_ms=0)

    # unaligned incremental ranges are rejected: splitting one coarse
    # window across two runs would append PARTIAL rows with different
    # totals that read_rollup's ANY_WINS merge silently drops
    with pytest.raises(ValueError, match="not aligned"):
        cascade_rollup(
            spark, fine, coarse, resolution_ms=3 * M5, min_ts=T0 + M5
        )
    with pytest.raises(ValueError, match="not aligned"):
        cascade_rollup(
            spark, fine, coarse, resolution_ms=3 * M5, max_ts=T0 + 4 * M5
        )
    # aligned bounds pass validation (whole-window range re-appends
    # identical totals — exactly the replay case ANY_WINS handles)
    cascade_rollup(
        spark, fine, coarse, resolution_ms=3 * M5,
        min_ts=T0, max_ts=T0 + 3 * M5,
    )
    got2 = read_rollup(spark, coarse, agg="sum")
    vals2 = {(r["series_key"], r["ts"]): r["value"] for r in got2.collect()}
    assert vals2[("host:a,name:cpu", T0)] == 9.0


def test_alert_history_dedup_keeps_islands_correct(spark):
    """Replayed epochs / re-run backfills double-append identical
    windows (foreachBatch is at-least-once); duplicate (series, ts)
    rows would split the row_number islands and inflate run lengths —
    an alert could fire after a single real breach. dedup_rule_history
    (ANY_WINS, the SampleMerger policy) must restore exact state."""
    from time_series_db_spark.streaming.rules import (
        dedup_rule_history,
        evaluate_alert_frame,
    )

    M5 = 300_000
    spec = {
        "alert": "High",
        "rule": {"record": "r", "agg": "sum", "resolution_ms": M5},
        "op": ">", "threshold": 10.0, "for_windows": 3,
    }
    base = [
        ("name:r", {"name": "r"}, T0 + 0 * M5, 20.0),
        ("name:r", {"name": "r"}, T0 + 1 * M5, 30.0),
        ("name:r", {"name": "r"}, T0 + 2 * M5, 40.0),
    ]
    # replay: every row appended twice (identical totals, the
    # append-mode replay shape)
    rows = base + base
    df = spark.createDataFrame(
        [(k, l, t, v, t - t % DEFAULT_BLOCK_MS) for k, l, t, v in rows],
        "series_key string, labels map<string,string>, ts long, "
        "value double, block long",
    )

    # WITHOUT dedup the duplicated ts rows split the islands (ts/res −
    # row_number is no longer constant within a real run), so the run
    # length never reaches for_windows=3 and the alert NEVER fires —
    # the exact failure the ADVICE finding describes
    raw_states = {
        r["labels"]["alertstate"]
        for r in evaluate_alert_frame(df, spec).collect()
    }
    assert "firing" not in raw_states  # corrupted: 3 real breaches missed

    # WITH dedup: 3 consecutive real breaches → fires on the third
    out = {
        r["ts"]: r["labels"]["alertstate"]
        for r in evaluate_alert_frame(dedup_rule_history(df), spec).collect()
    }
    assert out == {
        T0: "pending", T0 + M5: "pending", T0 + 2 * M5: "firing",
    }


def test_backfill_rules_prefilter_matches_unfiltered(spark, tmp_path):
    """When every rule in the group carries a tag filter, the shared
    scan is pruned to the UNION of the matches before it is persisted
    (the 100 TB cache-bound); results must be identical to running each
    rule alone over the unpruned store."""
    from time_series_db_spark.streaming.ingest import ingest_batch
    from time_series_db_spark.streaming.rules import (
        backfill_recording_rule,
        backfill_rules,
    )

    M5 = 300_000
    table = str(tmp_path / "metrics")
    docs = spark.createDataFrame(
        [
            ("name error region east", T0 + 10_000, 1.0),
            ("name error region west", T0 + 30_000, 5.0),
            ("name click region east", T0 + 40_000, 7.0),
            ("name view region east", T0 + 50_000, 9.0),  # matched by nobody
        ],
        INGEST_SCHEMA,
    )
    ingest_batch(spark, docs, table)
    r1 = {"record": "err:sum", "match": {"name": ["error"]},
          "group_by": ["region"], "agg": "sum", "resolution_ms": M5}
    r2 = {"record": "click:max", "match": {"name": ["click"]},
          "group_by": [], "agg": "max", "resolution_ms": M5}
    grouped = str(tmp_path / "grouped")
    counts = backfill_rules(spark, table, grouped, [r1, r2])
    assert counts == {"err:sum": 2, "click:max": 1}
    got = {
        (r["series_key"], r["ts"]): r["value"]
        for r in spark.read.parquet(grouped).collect()
    }
    solo = {}
    for i, r in enumerate([r1, r2]):
        out = str(tmp_path / f"solo{i}")
        backfill_recording_rule(spark, table, out, r)
        for row in spark.read.parquet(out).collect():
            solo[(row["series_key"], row["ts"])] = row["value"]
    assert got == solo


def test_read_metrics_tag_filter_pushes_below_dedup(spark, tmp_path):
    """A tag filter over read_metrics must sit BELOW the ANY_WINS dedup
    aggregation in the physical plan (it is a function of the grouping
    key, so Catalyst can push it) — the property the rule-group
    backfill's union-of-matches prefilter relies on to prune the dedup
    shuffle, not just the persisted cache."""
    from pyspark.sql import functions as F

    from time_series_db_spark.sources.m3source import tag_filter_predicate
    from time_series_db_spark.streaming.ingest import ingest_batch, read_metrics

    table = str(tmp_path / "metrics")
    docs = spark.createDataFrame(
        [("name error region east", T0 + 10_000, 1.0),
         ("name click region east", T0 + 20_000, 2.0)],
        INGEST_SCHEMA,
    )
    ingest_batch(spark, docs, table)
    df = read_metrics(spark, table).filter(
        tag_filter_predicate(F.col("labels")["name"], ["error"])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # children print BELOW parents: pushed filter ⇒ Filter after the agg
    assert plan.find("Filter") > plan.find("HashAggregate") > -1
    assert [r["value"] for r in df.collect()] == [1.0]


def test_query_range_rejects_nonpositive_step(spark):
    """step <= 0 must fail fast at the API boundary with a typed error
    (Prometheus bad_data) — never reach the grid arithmetic, which
    would die executor-side with ANSI REMAINDER_BY_ZERO at step=0 and
    silently degenerate at negative steps."""
    from time_series_db_spark import service
    from time_series_db_spark.sources import EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    for step in (0, -5):
        with pytest.raises(ValueError, match="step must be"):
            service.promql_query_range(
                src, "error", EVENTS_MIN_TS, EVENTS_MIN_TS + 60_000, step
            )
        with pytest.raises(ValueError, match="step must be"):
            service.m3ql_query_range(
                src, "fetch name:error",
                EVENTS_MIN_TS, EVENTS_MIN_TS + 60_000, step,
            )
        with pytest.raises(ValueError, match="step must be"):
            service.promql_query(src, "error", EVENTS_MIN_TS, step)
