"""PromQL execution semantics over constructed fixtures.

Covers behavior the parser goldens can't: IEEE-754 / Go-float64 edge
cases that Spark's ANSI mode (default in Spark 4) would otherwise turn
into runtime errors, and vector-matching result shapes. The reference
grammar has no binary operators (promql.jj:140), so the pinned
semantics here are the published Prometheus operator table.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

H = 3_600_000
T0 = 1_704_067_200_000


def _fixture(spark, rows):
    """rows: list of (labels_dict, ts, value) → fixture DataFrame."""
    from tests.yaml_harness import _FIXTURE_SCHEMA

    return spark.createDataFrame([(l, t, v, 0) for l, t, v in rows], _FIXTURE_SCHEMA)


def _source(spark, rows):
    from tests.yaml_harness import FixtureSource

    return FixtureSource(spark, [_fixture(spark, rows)])


def _run(spark, src, query, n_steps=4):
    from time_series_db_spark.lang.prom.builder import execute

    # fetch window is [start, end) — end excluded, so n_steps grid points
    sf = execute(query, src, T0, T0 + n_steps * H, H)
    out = {}
    for r in sf.df.collect():
        out.setdefault(tuple(sorted(dict(r["labels"]).items())), {})[r["ts"]] = r["value"]
    return out


def _series(spark, src, query, n_steps=4):
    got = _run(spark, src, query, n_steps)
    assert len(got) == 1, f"expected one series, got {sorted(got)}"
    return next(iter(got.values()))


def test_vector_divide_by_zero_promql_semantics(spark):
    """x/0 = ±Inf, 0/0 = NaN (Go float64) — must not raise ANSI
    DIVIDE_BY_ZERO (pyspark 4 defaults spark.sql.ansi.enabled=true)."""
    rows = []
    for i, v in enumerate([1.0, -2.0, 0.0, 5.0]):
        rows.append(({"name": "a"}, T0 + i * H, v))
    for i, v in enumerate([0.0, 0.0, 0.0, 2.0]):
        rows.append(({"name": "b"}, T0 + i * H, v))
    src = _source(spark, rows)
    vals = _series(spark, src, "a / b")
    assert vals[T0] == math.inf
    assert vals[T0 + H] == -math.inf
    assert math.isnan(vals[T0 + 2 * H])
    assert vals[T0 + 3 * H] == 2.5


def test_vector_mod_by_zero_promql_semantics(spark):
    rows = []
    for i, v in enumerate([7.0, -7.0, 0.0, 7.0]):
        rows.append(({"name": "a"}, T0 + i * H, v))
    for i, v in enumerate([0.0, 0.0, 0.0, 4.0]):
        rows.append(({"name": "b"}, T0 + i * H, v))
    src = _source(spark, rows)
    vals = _series(spark, src, "a % b")
    assert math.isnan(vals[T0])
    assert math.isnan(vals[T0 + H])
    assert math.isnan(vals[T0 + 2 * H])
    assert vals[T0 + 3 * H] == 3.0  # fmod(7, 4)


def test_scalar_divide_and_mod_by_zero(spark):
    rows = [({"name": "a"}, T0 + i * H, v)
            for i, v in enumerate([3.0, -3.0, 0.0, 8.0])]
    src = _source(spark, rows)
    vals = _series(spark, src, "a / 0")
    assert vals[T0] == math.inf
    assert vals[T0 + H] == -math.inf
    assert math.isnan(vals[T0 + 2 * H])
    vals = _series(spark, src, "a % 0")
    assert all(math.isnan(v) for v in vals.values())
    # scalar numerator over a zero vector value
    rows = [({"name": "b"}, T0, 0.0), ({"name": "b"}, T0 + H, 4.0)]
    vals = _series(spark, _source(spark, rows), "2 / b", n_steps=2)
    assert vals[T0] == math.inf and vals[T0 + H] == 0.5


def test_group_left_include_labels(spark):
    """group_left(role): result keeps the many side's labels (name
    dropped) plus `role` copied from the one side — Prometheus
    many-to-one result-label rules. A many-side label with the same
    name is overwritten by the one side's value."""
    rows = [
        ({"name": "a", "inst": "1", "job": "x", "role": "old"}, T0, 2.0),
        ({"name": "a", "inst": "2", "job": "x"}, T0, 3.0),
        ({"name": "b", "inst": "1", "role": "db"}, T0, 10.0),
        ({"name": "b", "inst": "2", "role": "web"}, T0, 100.0),
    ]
    src = _source(spark, rows)
    got = _run(spark, src, "a * on(inst) group_left(role) b", n_steps=1)
    assert got == {
        (("inst", "1"), ("job", "x"), ("role", "db")): {T0: 20.0},
        (("inst", "2"), ("job", "x"), ("role", "web")): {T0: 300.0},
    }


def test_group_right_include_labels(spark):
    rows = [
        ({"name": "a", "inst": "1", "team": "core"}, T0, 100.0),
        ({"name": "b", "inst": "1", "shard": "s0"}, T0, 4.0),
        ({"name": "b", "inst": "1", "shard": "s1"}, T0, 5.0),
    ]
    src = _source(spark, rows)
    got = _run(spark, src, "a / on(inst) group_right(team) b", n_steps=1)
    assert got == {
        (("inst", "1"), ("shard", "s0"), ("team", "core")): {T0: 25.0},
        (("inst", "1"), ("shard", "s1"), ("team", "core")): {T0: 20.0},
    }


def test_group_left_missing_include_label(spark):
    """Include label absent on the one side: dropped from the result
    (Prometheus deletes the listed label when the one side lacks it)."""
    rows = [
        ({"name": "a", "inst": "1", "role": "old"}, T0, 2.0),
        ({"name": "b", "inst": "1"}, T0, 10.0),
    ]
    src = _source(spark, rows)
    got = _run(spark, src, "a * on(inst) group_left(role) b", n_steps=1)
    assert got == {(("inst", "1"),): {T0: 20.0}}


def test_atan2_vector_and_scalar(spark):
    """l atan2 r = Go math.Atan2(l, r): vector-vector joins on the match
    key like arithmetic; vector-scalar maps per sample; atan2(±x, 0)
    never raises (no ANSI hazard) — Prometheus operator table."""
    rows = []
    for i, v in enumerate([1.0, -1.0, 0.0, 2.0]):
        rows.append(({"name": "a", "k": "x"}, T0 + i * H, v))
    for i, v in enumerate([1.0, 0.0, -1.0, 2.0]):
        rows.append(({"name": "b", "k": "x"}, T0 + i * H, v))
    src = _source(spark, rows)
    vals = _series(spark, src, "a atan2 b")
    expect = [math.atan2(1.0, 1.0), math.atan2(-1.0, 0.0),
              math.atan2(0.0, -1.0), math.atan2(2.0, 2.0)]
    for i, e in enumerate(expect):
        assert vals[T0 + i * H] == pytest.approx(e)
    svals = _series(spark, src, "a atan2 2")
    for i, v in enumerate([1.0, -1.0, 0.0, 2.0]):
        assert svals[T0 + i * H] == pytest.approx(math.atan2(v, 2.0))


def test_sort_by_label_and_desc(spark):
    """sort_by_label orders series by label values (asc/desc), missing
    label sorts first ascending; rank lands in __order."""
    from time_series_db_spark.lang.prom.builder import execute

    rows = []
    for i, reg in enumerate(["r2", "r1", "r3"]):
        rows.append(({"name": "a", "region": reg}, T0, float(i)))
    rows.append(({"name": "a"}, T0, 9.0))  # no region label → sorts first
    src = _source(spark, rows)

    def ranks(query):
        sf = execute(query, src, T0, T0 + H, H)
        return {
            dict(r["labels"]).get("region", ""): r["__order"]
            for r in sf.df.collect()
        }

    asc = ranks('sort_by_label(a, "region")')
    assert asc == {"": 1, "r1": 2, "r2": 3, "r3": 4}
    desc = ranks('sort_by_label_desc(a, "region")')
    assert desc == {"r3": 1, "r2": 2, "r1": 3, "": 4}


def test_ts_of_over_time_family(spark):
    """ts_of_{max,min,last}_over_time: the window sample's timestamp in
    epoch seconds; value ties resolve to the LATEST sample (>=/<= update
    rule in Prometheus's funcTsOf*OverTime)."""
    rows = [({"name": "a"}, T0 + i * H, v)
            for i, v in enumerate([5.0, 5.0, 1.0, 1.0])]
    src = _source(spark, rows)
    mx = _series(spark, src, "ts_of_max_over_time(a[4h])")
    # at t3 the window holds all samples: max=5.0 first at t0, tie at t1 → t1
    assert mx[T0 + 3 * H] == (T0 + 1 * H) / 1000.0
    mn = _series(spark, src, "ts_of_min_over_time(a[4h])")
    # min=1.0 at t2, tie at t3 → latest t3
    assert mn[T0 + 3 * H] == (T0 + 3 * H) / 1000.0
    last = _series(spark, src, "ts_of_last_over_time(a[4h])")
    for i in range(4):
        assert last[T0 + i * H] == (T0 + i * H) / 1000.0


def test_double_exponential_smoothing_alias(spark):
    """double_exponential_smoothing is the Prometheus 3 rename of
    holt_winters — identical level/trend recurrence."""
    rows = [({"name": "a"}, T0 + i * H, v)
            for i, v in enumerate([1.0, 3.0, 2.0, 6.0])]
    src = _source(spark, rows)
    hw = _series(spark, src, "holt_winters(a[4h], 0.3, 0.1)")
    des = _series(spark, src, "double_exponential_smoothing(a[4h], 0.3, 0.1)")
    assert hw.keys() == des.keys()
    for t in hw:  # NaN == NaN for this comparison (single-sample windows)
        assert hw[t] == des[t] or (math.isnan(hw[t]) and math.isnan(des[t]))


def test_mad_over_time_small_windows(spark):
    """mad_over_time: median(|x − median(x)|) with interpolated medians
    — hand-computed odd and even window sizes."""
    rows = [({"name": "a"}, T0 + i * H, v)
            for i, v in enumerate([1.0, 2.0, 10.0, 4.0])]
    src = _source(spark, rows)
    vals = _series(spark, src, "mad_over_time(a[3h])")
    # t1: window {1,2} → med 1.5, devs {.5,.5} → 0.5
    assert vals[T0 + 1 * H] == pytest.approx(0.5)
    # t2: window {1,2,10} → med 2, devs {1,0,8} → med 1
    assert vals[T0 + 2 * H] == pytest.approx(1.0)
    # t3: window {2,10,4} → med 4, devs {2,6,0} → med 2
    assert vals[T0 + 3 * H] == pytest.approx(2.0)


def test_histogram_fraction_classic_buckets(spark):
    """histogram_fraction over classic le buckets: exact bounds give the
    bucket-count difference over total; x beyond the largest finite
    bound only reaches the +Inf tail at upper=+Inf (written as 1e999)."""
    # 10 observations at ts=T0: cumulative le=1 -> 2, le=4 -> 6, +Inf -> 10
    rows = []
    for le, cnt in [("1", 2.0), ("4", 6.0), ("+Inf", 10.0)]:
        rows.append(({"name": "h", "le": le}, T0, cnt))
    src = _source(spark, rows)
    # exact bucket bounds: (F(4)-F(1))/total = (6-2)/10
    vals = _series(spark, src, "histogram_fraction(1, 4, h)", n_steps=1)
    assert vals[T0] == pytest.approx(0.4)
    # interpolated: F(2) = 2 + (6-2)*((2-1)/(4-1)) = 10/3; F(0)=0
    vals = _series(spark, src, "histogram_fraction(0, 2, h)", n_steps=1)
    assert vals[T0] == pytest.approx((2 + 4 / 3) / 10)
    # upper beyond largest finite bound but not +Inf: tail mass excluded
    vals = _series(spark, src, "histogram_fraction(0, 100, h)", n_steps=1)
    assert vals[T0] == pytest.approx(0.6)
    # upper = +Inf (Inf literal): everything
    vals = _series(spark, src, "histogram_fraction(0, Inf, h)", n_steps=1)
    assert vals[T0] == pytest.approx(1.0)


def test_histogram_fraction_invalid_histogram_nan(spark):
    """No +Inf bucket -> NaN, matching histogram_quantile's guard."""
    rows = [({"name": "h", "le": "1"}, T0, 2.0),
            ({"name": "h", "le": "4"}, T0, 6.0)]
    src = _source(spark, rows)
    vals = _series(spark, src, "histogram_fraction(0, 2, h)", n_steps=1)
    assert math.isnan(vals[T0])


def test_scalar_subtree_folds_before_vector_match(spark):
    """Prometheus types any expression over number literals as SCALAR
    regardless of nesting: ``error > bool 0.5 + 1`` is ``error > bool
    (0.5 + 1)`` (arithmetic binds tighter), so the right side must fold
    to 1.5 and compare vector-to-scalar — not be built as a vector.
    Found by the grammar fuzz (r6)."""
    from time_series_db_spark.lang.prom.builder import (
        PromUnsupportedError,
        execute as execute_promql,
    )
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    e, s = EVENTS_MIN_TS, DEFAULT_STEP_MS

    base = execute_promql("error", src, e, e + 2 * s, s).df.collect()
    folded = execute_promql(
        "error > bool 0.5 + 1", src, e, e + 2 * s, s
    ).df.collect()
    explicit = execute_promql(
        "error > bool (0.5 + 1)", src, e, e + 2 * s, s
    ).df.collect()
    assert len(folded) == len(base) > 0
    key = lambda rows: sorted((r.series_key, r.ts, r.value) for r in rows)
    assert key(folded) == key(explicit)
    # nested scalar comparison with bool folds to 0/1 inside the scalar
    shifted = execute_promql(
        "error + (3 > bool 2)", src, e, e + 2 * s, s
    ).df.collect()
    plus_one = execute_promql("error + 1", src, e, e + 2 * s, s).df.collect()
    assert key(shifted) == key(plus_one)
    # scalar-scalar comparison without bool stays an error (Prometheus
    # "comparisons between scalars must use BOOL modifier")
    with pytest.raises(PromUnsupportedError, match="bool"):
        execute_promql("error + (3 > 2)", src, e, e + 2 * s, s)


def test_set_op_over_sorted_operands(spark):
    """`sort_desc(x) or sort_desc(y)` — sorted frames carry internal
    rank columns the other side lacks; the set-op union must project to
    the canonical columns first (Prometheus leaves set-op order
    unspecified). Found by the extended grammar fuzz (r6)."""
    from time_series_db_spark.lang.prom.builder import execute as execute_promql
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    e, s = EVENTS_MIN_TS, DEFAULT_STEP_MS
    for expr in (
        "sum by (region) (sort_desc(error) or sort_desc(error))",
        "sort_desc(error) or click",
        "sort(error) and sort_desc(error)",
        "sort_desc(error) unless click",
    ):
        sf = execute_promql(expr, src, e, e + 2 * s, s)
        assert sf.df.count() > 0, expr
    # or-union equals its unsorted twin
    key = lambda sf: sorted(
        (r.series_key, r.ts, r.value) for r in sf.df.collect()
    )
    a = execute_promql("sort_desc(error) or click", src, e, e + 2 * s, s)
    b = execute_promql("error or click", src, e, e + 2 * s, s)
    assert key(a) == key(b)


def test_stddev_stdvar_of_equal_series_are_zero(spark):
    """stddev/stdvar across series that all hold one value are 0, as in
    Prometheus. The E[v²] − E[v]² form rounds a few ulps below 0 for
    three series at 0.1; unclamped, stdvar read −1.7e-18 and stddev
    NaN."""
    rows = [
        ({"name": "x", "host": h}, T0 + i * H, 0.1)
        for h in ("a", "b", "c") for i in range(4)
    ]
    src = _source(spark, rows)
    for fn in ("stdvar", "stddev"):
        assert list(_series(spark, src, f"{fn}(x)").values()) == [0.0] * 4, fn


def test_stdvar_over_time_constant_window_is_zero(spark):
    """A constant window has variance 0; unclamped, a window of 0.1s
    read −1.7e-18."""
    src = _source(spark, [({"name": "x"}, T0 + i * H, 0.1) for i in range(4)])
    for fn in ("stdvar_over_time", "stddev_over_time"):
        got = _series(spark, src, f"{fn}(x[3h])").values()
        assert list(got) == [0.0] * 4, fn
