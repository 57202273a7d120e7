"""Response path: the flat Arrow-collected matrix/vector shaping against
the Row-based ``groupBy`` shaping it replaced, value formatting, the
response memo of a warm query scope and its guards, and the caps
checked on the one response collect."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from time_series_db_spark import cache, service
from time_series_db_spark.model import SeriesFrame, labels_from_key_expr
from time_series_db_spark.output import QueryLimitError, _fmt, to_matrix, to_vector
from time_series_db_spark.sources.m3source import EventsSource
from time_series_db_spark.sources.tables import EVENTS_MAX_TS, EVENTS_MIN_TS

_SCHEMA = "series_key string, alias string, ts bigint, value double"
_STEP = 10


def _frame(spark, rows, min_ts=0, max_ts=100) -> SeriesFrame:
    df = (
        spark.createDataFrame(rows, _SCHEMA)
        .repartition(3)
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select("series_key", "labels", "alias", "ts", "value")
    )
    return SeriesFrame(df=df, step=_STEP, min_ts=min_ts, max_ts=max_ts)


def _reference_rows(sf: SeriesFrame):
    """The distributed shaping: one row per (series_key, alias) with the
    sorted (ts, value) array.  The collect order of two aliases of one
    key was arbitrary; it is pinned here to the order the flat path
    gives (non-NULL alias first) so the comparison is exact."""
    aggs = [F.sort_array(F.collect_list(F.struct("ts", "value"))).alias("samples")]
    if sf.ordered_by:
        aggs += [F.first(c).alias(c) for c in sf.ordered_by]
    rows = (
        sf.df.groupBy("series_key", "alias")
        .agg(*aggs)
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .collect()
    )
    rows.sort(key=lambda r: (r["series_key"], r["alias"] is None, r["alias"] or ""))
    return rows


def _reference_matrix(sf, include_metadata=True, include_alias=True):
    rows = _reference_rows(sf)
    if sf.ordered_by:
        rows.sort(key=lambda r: tuple(r[c] for c in sf.ordered_by))
    meta = (
        {"step": sf.step, "start": sf.min_ts, "end": sf.max_ts}
        if include_metadata
        else {}
    )
    result = [
        {
            "metric": dict(r["labels"]),
            **(
                {"alias": r["alias"]}
                if include_alias and r["alias"] is not None
                else {}
            ),
            "values": [[int(s["ts"]), _fmt(s["value"])] for s in r["samples"]],
            **meta,
        }
        for r in rows
    ]
    return {"status": "success", "data": {"resultType": "matrix", "result": result}}


def _reference_vector(sf, time_ms):
    result = []
    for r in _reference_rows(sf):
        at = [s for s in r["samples"] if s["ts"] <= time_ms]
        if at:
            result.append(
                {
                    "metric": dict(r["labels"]),
                    "value": [int(time_ms), _fmt(at[-1]["value"])],
                }
            )
    return {"status": "success", "data": {"resultType": "vector", "result": result}}


#: values at the edges of the whole-number formatting, and their wire
#: text (one series of ``_DIRTY``)
_FMT_CASES = [
    (math.nan, "NaN"),
    (math.inf, "+Inf"),
    (-math.inf, "-Inf"),
    (-0.0, "0"),
    (999_999_999_999_999.0, "999999999999999"),
    (1e15, "1000000000000000.0"),
    (-1e16, "-1e+16"),
    (1e-05, "1e-05"),
    (1e22, "1e+22"),
    (5e-324, "5e-324"),
    (0.1, "0.1"),
    (float(2**53), "9007199254740992.0"),
    (-42.0, "-42"),
    (2.5, "2.5"),
]


#: dirty values, one key under a NULL and a non-NULL alias, a duplicate
#: timestamp, the empty key, a pair without ':' and a value holding ':'
_DIRTY = [
    ("host:h1,name:cpu", None, 40, math.nan),
    ("host:h1,name:cpu", None, 0, math.inf),
    ("host:h1,name:cpu", None, 30, -math.inf),
    ("host:h1,name:cpu", None, 10, -0.0),
    ("host:h1,name:cpu", None, 20, 999_999_999_999_999.0),
    ("host:h1,name:cpu", None, 50, 1e15),
    ("host:h1,name:cpu", None, 60, -1e16),
    ("host:h1,name:cpu", None, 70, 2.5),
    ("host:h1,name:cpu", None, 70, math.nan),
    ("host:h1,name:cpu", None, 70, -3.0),
    ("host:h1,name:cpu", "a1", 20, 1.0),
    ("host:h1,name:cpu", "a1", 0, 7.0),
    ("", None, 10, 4.0),
    ("a:1,b", "x", 30, 5.0),
    ("a:1,b", "x", 10, 0.1),
    ("url:http://h:8080/x,zone:z", None, 0, 123456789.125),
    ("url:http://h:8080/x,zone:z", None, 90, -1e-300),
    *(("fmt:edges", None, 10 * t, v) for t, (v, _) in enumerate(_FMT_CASES)),
]

_CLEAN = [
    (f"name:s{i},zone:z{i % 2}", None, t, float((i * 7 + t) % 11) - 3.0)
    for i in range(6)
    for t in range(0, 100, _STEP)
    if (i + t // _STEP) % 4
]


def _frames(spark):
    from time_series_db_spark.operators import ordering

    empty = _frame(spark, [])
    dirty = _frame(spark, _DIRTY)
    clean = _frame(spark, _CLEAN)
    return {
        "empty": empty,
        "dirty": dirty,
        "topk": ordering.top_k(clean, 3),
        "sort": ordering.sort(clean, fn="max", descending=False),
        "head": ordering.head(ordering.sort(clean, fn="avg"), 4),
        "sort_dirty": ordering.sort(dirty, fn="name"),
    }


@pytest.mark.parametrize("include_metadata", [True, False])
@pytest.mark.parametrize("include_alias", [True, False])
def test_to_matrix_matches_row_shaping(spark, include_metadata, include_alias):
    for name, sf in _frames(spark).items():
        got = to_matrix(sf, include_metadata, include_alias)
        want = _reference_matrix(sf, include_metadata, include_alias)
        assert got == want, name


def test_to_matrix_label_rules(spark):
    result = to_matrix(_frame(spark, _DIRTY))["data"]["result"]
    metrics = [s["metric"] for s in result]
    assert {} in metrics
    assert {"a": "1", "b": None} in metrics
    assert {"url": "http://h:8080/x", "zone": "z"} in metrics
    cpu = [s for s in result if s["metric"] == {"host": "h1", "name": "cpu"}]
    assert [s.get("alias") for s in cpu] == ["a1", None]
    [edges] = [s for s in result if s["metric"] == {"fmt": "edges"}]
    assert edges["values"] == [[10 * t, text] for t, (_, text) in enumerate(_FMT_CASES)]
    assert cpu[1]["values"] == [
        [0, "+Inf"], [10, "0"], [20, "999999999999999"], [30, "-Inf"],
        [40, "NaN"], [50, "1000000000000000.0"], [60, "-1e+16"],
        [70, "-3"], [70, "2.5"], [70, "NaN"],
    ]


@pytest.mark.parametrize("time_ms", [-1, 0, 25, 70, 1_000])
def test_to_vector_matches_row_shaping(spark, time_ms):
    for name, sf in _frames(spark).items():
        assert to_vector(sf, time_ms) == _reference_vector(sf, time_ms), name


#: the six dashboard panels: (catalog entry, language, query text)
_PANELS = [
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

def _jobs(spark, tag, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, "")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _responses():
    """The memoised response tables of every scope."""
    return [k for memo in cache._PROBES.values() for k in memo if k[1] == "response"]


def test_warm_dashboard_cycle_job_budget(spark, sf_dir, monkeypatch):
    """Six panels round-robin through the facades, twice.  On the second
    cycle every panel is inside the cache's warm window: its persists
    rehydrate and its probes hit their memos, so building the plan runs
    no Spark job, and its response table is memoised in its scope, so
    the response runs none either."""
    cache.release_all()
    sc = spark.sparkContext
    src = EventsSource(spark, sf_dir)
    facades = {"m3ql": service.m3ql_query_range, "promql": service.promql_query_range}
    group = {}
    to_matrix_ = service.to_matrix

    def tagged_to_matrix(*a, **kw):
        sc.setJobGroup(f"{group['tag']}/collect", "")
        return to_matrix_(*a, **kw)

    monkeypatch.setattr(service, "to_matrix", tagged_to_matrix)
    for cycle in (1, 2):
        for name, lang, query in _PANELS:
            group["tag"] = f"warm-budget{cycle}:{name}"
            sc.setJobGroup(f"{group['tag']}/build", "")
            facades[lang](src, query, EVENTS_MIN_TS, EVENTS_MAX_TS, 3_600_000)
    sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    tracker = sc.statusTracker()
    # the tagging holds: every panel's first response ran jobs
    assert all(tracker.getJobIdsForGroup(f"warm-budget1:{n}/collect") for n, _, _ in _PANELS)
    jobs = {
        (name, phase): len(tracker.getJobIdsForGroup(f"warm-budget2:{name}/{phase}"))
        for name, _, _ in _PANELS
        for phase in ("build", "collect")
    }
    assert jobs == dict.fromkeys(jobs, 0)


def test_warm_answer_equals_cold(spark, sf_dir):
    """Each dashboard panel, and an instant query, answered from its
    warm scope (no Spark job) equals the answer computed again after
    every scope was released."""
    src = EventsSource(spark, sf_dir)
    facades = {"m3ql": service.m3ql_query_range, "promql": service.promql_query_range}
    cases = [
        (name, lambda lang=lang, q=query: facades[lang](
            src, q, EVENTS_MIN_TS, EVENTS_MAX_TS, 3_600_000))
        for name, lang, query in _PANELS
    ]
    cases.append(("promql_query", lambda: service.promql_query(
        src, "sum by (region) (rate(error[3h]))", EVENTS_MIN_TS + 12 * 3_600_000,
        3_600_000, lookback_ms=6 * 3_600_000)))
    for name, ask in cases:
        cache.release_all()
        first = ask()
        warm, jobs = _jobs(spark, f"memo-warm:{name}", ask)
        assert jobs == 0, name
        cache.release_all()
        cold = ask()
        assert warm == cold == first, name
        assert cold["data"]["result"], name
    cache.release_all()


def test_response_memo_guards(spark, monkeypatch):
    """Nothing is memoised for a response collected in the anonymous
    scope, in a named scope whose build noted no listing or an unknown
    one, for a plan with a nondeterministic expression, or for a table
    over the byte cap; a deterministic table under it in a named scope
    with a noted listing is memoised once."""
    from time_series_db_spark import output

    cache.release_all()
    cache.set_scope("")
    sf = _frame(spark, _CLEAN)
    want = to_matrix(sf)
    assert _responses() == []
    cache.set_scope("memo-guards")
    assert to_matrix(sf) == want
    assert _responses() == []
    cache.note_inputs("memo-guards-root", None)
    assert to_matrix(sf) == want
    assert _responses() == []
    cache.set_scope("memo-guards")
    cache.note_inputs("memo-guards-root", "listing")
    rand = SeriesFrame(
        df=sf.df.withColumn("value", F.rand(seed=7)), step=_STEP, min_ts=0, max_ts=100
    )
    to_matrix(rand)
    assert _responses() == []
    monkeypatch.setattr(output, "RESPONSE_MEMO_BYTES", 1)
    assert to_matrix(sf) == want
    assert _responses() == []
    monkeypatch.undo()
    assert to_matrix(sf) == want
    assert len(_responses()) == 1
    assert _jobs(spark, "memo-guards:hit", lambda: to_matrix(sf)) == (want, 0)
    cache.set_scope("")
    cache.release_all()


def test_entry_points_leave_no_memo_for_later_direct_calls(spark, sf_dir):
    """A facade returns its caller to the anonymous scope, and a catalog
    entry forgets the listings its build noted: a direct ``to_matrix``
    afterwards, in the same thread, memoises nothing."""
    from time_series_db_spark.catalog import QUERIES

    cache.release_all()
    src = EventsSource(spark, sf_dir)
    service.m3ql_query_range(
        src, "fetch name:error | sum region", EVENTS_MIN_TS, EVENTS_MAX_TS, 3_600_000
    )
    assert cache.current_scope() == ""
    held = _responses()
    assert len(held) == 1
    sf = _frame(spark, _CLEAN)
    to_matrix(sf)
    assert _responses() == held
    QUERIES["m3_divide"](spark, sf_dir)
    assert cache.current_scope() == "m3_divide"
    to_matrix(sf)
    assert _responses() == held
    cache.set_scope("")
    cache.release_all()


def test_capped_query_runs_its_plan_once(spark, sf_dir):
    """A cap costs at most one job more than the uncapped query when
    cold and none when warm; a cap is checked on every call, so a
    memoised answer asked again under a smaller cap raises, and an
    answer over its cap is not memoised."""
    src = EventsSource(spark, sf_dir)

    def ask(**caps):
        return service.m3ql_query_range(
            src, "fetch name:error | sum region", EVENTS_MIN_TS, EVENTS_MAX_TS,
            3_600_000, **caps,
        )

    cache.release_all()
    plain, n_plain = _jobs(spark, "cap:plain", ask)
    result = plain["data"]["result"]
    n_series, n_points = len(result), sum(len(s["values"]) for s in result)
    assert n_series > 1
    caps = {"max_series": n_series, "max_points": n_points}
    cache.release_all()
    capped, n_cold = _jobs(spark, "cap:cold", lambda: ask(**caps))
    assert capped == plain
    assert 0 < n_cold <= n_plain + 1
    assert _jobs(spark, "cap:warm", lambda: ask(**caps)) == (plain, 0)
    with pytest.raises(QueryLimitError, match="max_points"):
        ask(max_points=n_points - 1)
    with pytest.raises(QueryLimitError, match="max_series"):
        ask(max_series=n_series - 1, max_points=n_points)
    # a series cap alone counts first; the count is memoised too
    cache.release_all()
    assert ask(max_series=n_series) == plain
    assert _jobs(spark, "cap:series-warm", lambda: ask(max_series=n_series)) == (plain, 0)
    with pytest.raises(QueryLimitError, match="max_series"):
        ask(max_series=n_series - 1)
    cache.release_all()
    with pytest.raises(QueryLimitError, match="max_points"):
        ask(max_points=n_points - 1)
    assert _responses() == []
    cache.release_all()
