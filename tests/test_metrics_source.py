"""MetricsSource, the read path of the ingested store: the one-pass fetch
(pinned-schema scan + one ``max_by`` aggregation per grid bucket) against
the two-pass formulation it replaced, its job and exchange budget, and
the empty-store behaviour."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from time_series_db_spark import cache, service
from time_series_db_spark.model import SAMPLE_COLS, SeriesFrame, labels_from_key_expr
from time_series_db_spark.sources.m3source import (
    MetricsSource,
    regex_filter_predicate,
    tag_filter_predicate,
)
from time_series_db_spark.streaming import (
    DEFAULT_BLOCK_MS,
    INGEST_SCHEMA,
    ingest_batch,
    parse_ingest,
    read_metrics,
    read_rollup,
    start_ingest,
)
from time_series_db_spark.streaming.downsample import ROLLUP_COLS
from time_series_db_spark.streaming.ingest import write_blocks

T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z, a block boundary
BOUNDARY = T0 + DEFAULT_BLOCK_MS
START, END = BOUNDARY - 15 * 60_000, BOUNDARY + 15 * 60_000
STEPS = (60_000, 300_000)
ROLLUP_MS = 60_000


class _ReferenceSource(MetricsSource):
    """The fetch as it was before the fusion: the public ANY_WINS read
    (``read_metrics`` / ``read_rollup``),
    the tag filter over its decoded labels, then the LWW grid
    alignment as a second aggregation."""

    def fetch(self, match, inverse, min_ts, max_ts, step,
              match_re=None, inverse_re=None):
        chosen = None
        for r in self.rollups:
            if int(r["resolution_ms"]) <= step:
                chosen = r
        if chosen is not None:
            df = read_rollup(self.spark, chosen["path"], chosen.get("agg", "last"),
                             min_ts=min_ts, max_ts=max_ts)
        else:
            df = read_metrics(self.spark, self.table, min_ts=min_ts, max_ts=max_ts)
        lbl = F.col("labels")
        preds = [tag_filter_predicate(lbl[k], v) for k, v in match.items()]
        preds += [lbl[k].isNull() | tag_filter_predicate(lbl[k], v, inverted=True)
                  for k, v in inverse.items()]
        preds += [regex_filter_predicate(lbl[k], v) for k, v in (match_re or {}).items()]
        preds += [lbl[k].isNull() | regex_filter_predicate(lbl[k], v, inverted=True)
                  for k, v in (inverse_re or {}).items()]
        for p in preds:
            df = df.filter(p)
        grid = (F.col("ts") - (F.col("ts") % F.lit(int(step)))).alias("__grid")
        out = (
            df.withColumn("__grid", grid)
            .groupBy("series_key", "__grid")
            .agg(F.expr("max_by(value, ts)").alias("value"))
            .select(
                "series_key",
                labels_from_key_expr(F.col("series_key")).alias("labels"),
                F.lit(None).cast("string").alias("alias"),
                F.col("__grid").alias("ts"),
                "value",
            )
            .select(*SAMPLE_COLS)
        )
        return SeriesFrame(df=out, step=step, min_ts=min_ts, max_ts=max_ts)


def _docs(values_at):
    """Ingest documents every 20 s across the block boundary: two cpu
    hosts in two data centres and one mem series whose ``url`` value
    holds ``:``; ``values_at(i, j)`` gives sample j of series i."""
    series = ["name cpu host h0 dc d0", "name cpu host h1 dc d1",
              "name mem host h0 url http://x:8080"]
    return [(s, START - 60_000 + j * 20_000, values_at(i, j))
            for i, s in enumerate(series) for j in range(96)]


def _clean_value(i, j):
    # NaN at the newest sample of some buckets and inside others
    return math.nan if j % 7 == 2 or j % 15 == 14 else float(10 * i + j % 11)


def _rollup_rows(spark, docs):
    """Rollup rows of ``docs`` at ROLLUP_MS, as a batch aggregation."""
    w = F.col("ts") - F.col("ts") % F.lit(ROLLUP_MS)
    return (
        parse_ingest(spark.createDataFrame(docs, INGEST_SCHEMA))
        .groupBy("series_key", w.alias("wts"))
        .agg(
            F.sum("value").alias("value_sum"),
            F.count(F.lit(1)).cast("double").alias("value_count"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.expr("max_by(value, ts)").alias("value_last"),
        )
        .select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.col("wts").alias("ts"),
            "value_sum", "value_count", "value_min", "value_max", "value_last",
            (F.col("wts") - F.col("wts") % F.lit(DEFAULT_BLOCK_MS)).alias("block"),
        )
        .select(*ROLLUP_COLS)
    )


def _store(spark, tmp, name, path_kind, first, second):
    """A table of ``path_kind`` holding two appends, ``first`` then
    ``second``; returns (fused source, reference source, stored rows
    reader)."""
    if path_kind == "raw":
        table = str(tmp / name)
        for docs in (first, second):
            ingest_batch(spark, spark.createDataFrame(docs, INGEST_SCHEMA), table)
        kw = {}
        rows = lambda: spark.read.parquet(table)  # noqa: E731
    else:
        table = str(tmp / f"{name}_raw_unused")
        rollup = str(tmp / name)
        for docs in (first, second):
            write_blocks(_rollup_rows(spark, docs), rollup)
        kw = {"rollups": [{"path": rollup, "resolution_ms": ROLLUP_MS, "agg": "last"}]}
        rows = lambda: spark.read.parquet(rollup).withColumn(  # noqa: E731
            "value", F.col("value_last"))
    return MetricsSource(spark, table, **kw), _ReferenceSource(spark, table, **kw), rows


def _flat(resp):
    assert resp["status"] == "success", resp
    return {
        (frozenset(s["metric"].items()), int(t)): float(v)
        for s in resp["data"]["result"] for t, v in s["values"]
    }


def _same(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12)


QUERIES = [
    ("m3ql", "fetch name:cpu"),
    ("m3ql", "fetch name:* host:!h1 | sum dc"),
    ("promql", 'max by (host) ({__name__=~"c.*|mem", dc!="d1"})'),
    ("promql", 'mem{url=~".*:8080"}'),
]


@pytest.fixture(autouse=True)
def _clean_registry():
    cache.release_all()
    yield
    cache.release_all()


@pytest.mark.parametrize("path_kind", ["raw", "rollup"])
def test_fused_fetch_equals_dedup_then_align(spark, tmp_path, path_kind):
    """Exact-duplicate appends (the stream's own kind), NaN values, a
    label value holding ``:`` and samples on both sides of a block
    boundary: the one-pass fetch answers what the two-pass one did,
    through both facades, at two steps."""
    docs = _docs(_clean_value)
    # the second append re-sends every third document unchanged; a
    # replayed rollup window carries the whole window's totals again
    again = docs if path_kind == "rollup" else docs[::3]
    fused, ref, _ = _store(spark, tmp_path, "clean", path_kind, docs, again)
    facades = {"m3ql": service.m3ql_query_range,
               "promql": service.promql_query_range}
    for step in STEPS:
        for lang, q in QUERIES:
            want = _flat(facades[lang](ref, q, START, END, step))
            got = _flat(facades[lang](fused, q, START, END, step))
            assert want, (lang, q, step)
            assert got.keys() == want.keys(), (lang, q, step)
            bad = [k for k in want if not _same(got[k], want[k])]
            assert not bad, (lang, q, step, bad[:3])


@pytest.mark.parametrize("path_kind", ["raw", "rollup"])
def test_fused_fetch_unequal_duplicates_pick_a_candidate(spark, tmp_path, path_kind):
    """Two appends that disagree on a (series, ts): ANY_WINS may keep
    either, so both formulations must answer, per grid bucket, one of
    the values stored at the bucket's newest timestamp."""
    docs = _docs(lambda i, j: float(100 * i + j))
    # every fourth document re-sent with another value
    fused, ref, rows = _store(spark, tmp_path, "unequal", path_kind, docs,
                              [(s, t, v + 0.5) for s, t, v in docs[::4]])
    stored = [(r.series_key, r.ts, r.value) for r in rows().collect()]
    for step in STEPS:
        newest, cands = {}, {}
        for key, ts, _ in stored:
            if START <= ts < END:
                b = (key, ts - ts % step)
                newest[b] = max(newest.get(b, ts), ts)
        for key, ts, v in stored:
            b = (key, ts - ts % step)
            if newest.get(b) == ts:
                cands.setdefault(b, set()).add(v)
        assert any(len(c) > 1 for c in cands.values())
        expect = {
            (frozenset(tuple(kv.split(":", 1)) for kv in k.split(",")), t): c
            for (k, t), c in cands.items()
        }
        for src in (ref, fused):
            for resp in (
                service.m3ql_query_range(src, "fetch name:*", START, END, step),
                service.promql_query_range(src, '{__name__=~".+"}', START, END, step),
            ):
                got = _flat(resp)
                assert got.keys() == expect.keys()
                assert all(v in expect[k] for k, v in got.items())


#: Spark jobs of each ingest read family's response action (one per AQE
#: stage of its plan plus the result stage), as measured at 4 cores;
#: with the separate dedup aggregation they were 4, 4 and 3, and
#: building each plan ran one schema-inference job
_READ_FAMILIES = [
    ("m3ql", "fetch name:cpu | sum dc", 3),
    ("promql", 'max by (host) (cpu{dc="d0"})', 3),
    ("m3ql", "fetch name:cpu host:h1", 2),
]


def test_ingest_read_families_job_budget(spark, tmp_path, monkeypatch):
    """The store's three read families through the facades: building
    the plan runs no Spark job (the schema is pinned), and the response
    collect stays within its budget; a raw-table fetch plans one
    exchange."""
    docs = spark.createDataFrame(_docs(_clean_value), INGEST_SCHEMA)
    table = str(tmp_path / "metrics")
    ingest_batch(spark, docs, table)
    ingest_batch(spark, docs, table)
    src = MetricsSource(spark, table)
    sc = spark.sparkContext
    facades = {"m3ql": service.m3ql_query_range, "promql": service.promql_query_range}
    group = {}
    to_matrix_ = service.to_matrix

    def tagged_to_matrix(*a, **kw):
        sc.setJobGroup(f"{group['tag']}/collect", "")
        return to_matrix_(*a, **kw)

    monkeypatch.setattr(service, "to_matrix", tagged_to_matrix)
    for i, (lang, query, _) in enumerate(_READ_FAMILIES):
        group["tag"] = f"store-budget:{i}"
        sc.setJobGroup(f"{group['tag']}/build", "")
        assert _flat(facades[lang](src, query, START, END, 60_000))
    sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    for i, (_, query, budget) in enumerate(_READ_FAMILIES):
        assert tracker.getJobIdsForGroup(f"store-budget:{i}/build") == [], query
        assert 0 < len(tracker.getJobIdsForGroup(f"store-budget:{i}/collect")) <= budget, query

    def plan(sf):
        return sf.df._jdf.queryExecution().executedPlan().toString()

    raw = plan(src.fetch({"name": ["cpu"]}, {}, START, END, 60_000))
    assert raw.count("Exchange") == 1, raw


def test_ingest_read_families_warm_equals_cold(spark, tmp_path):
    """Each store read family answered from its warm scope (no Spark
    job) equals the answer computed again after every scope was
    released."""
    from time_series_db_spark import cache

    docs = spark.createDataFrame(_docs(_clean_value), INGEST_SCHEMA)
    table = str(tmp_path / "metrics")
    ingest_batch(spark, docs, table)
    ingest_batch(spark, docs, table)
    src = MetricsSource(spark, table)
    sc = spark.sparkContext
    facades = {"m3ql": service.m3ql_query_range, "promql": service.promql_query_range}
    for i, (lang, query, _) in enumerate(_READ_FAMILIES):
        cache.release_all()
        first = facades[lang](src, query, START, END, 60_000)
        sc.setJobGroup(f"store-warm:{i}", "")
        warm = facades[lang](src, query, START, END, 60_000)
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert sc.statusTracker().getJobIdsForGroup(f"store-warm:{i}") == [], query
        cache.release_all()
        cold = facades[lang](src, query, START, END, 60_000)
        assert warm == cold == first and _flat(cold), query
    cache.release_all()


def test_empty_store_answers_empty_matrix(spark, tmp_path):
    """A table whose ingest stream has started but committed no file
    yet answers an empty matrix (the schema is pinned, so there is
    nothing to infer); a path that does not exist still raises."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    table = str(tmp_path / "metrics")
    q = start_ingest(spark, str(src_dir), table, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive and os.path.isdir(table)
    src = MetricsSource(spark, table)
    resp = service.m3ql_query_range(src, "fetch name:cpu", START, END, 60_000)
    assert resp["status"] == "success" and resp["data"]["result"] == []
    assert read_metrics(spark, table).count() == 0

    missing = MetricsSource(spark, str(tmp_path / "missing"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        service.m3ql_query_range(missing, "fetch name:cpu", START, END, 60_000)
