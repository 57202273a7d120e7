"""Property test: PromQL binary-op vector matching vs a DuckDB join oracle.

The directed tests in test_prom_exec.py pin individual branches
(on/ignoring/group_left/group_right); this generates randomized label
sets and checks the full cross-product behavior of one-to-one matching
— match-signature equality (absent label ≡ empty string), result-label
shaping per mode, and IEEE arithmetic — against an independent DuckDB
equi-join on the same data.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

#: property/fuzz/invariance sweep: the slow tier
pytestmark = pytest.mark.slow

H = 3_600_000
T0 = 1_704_067_200_000
KEYS = ["job", "inst", "env"]
VALS = ["x", "y", "z"]

_label_map = st.fixed_dictionaries(
    {}, optional={k: st.sampled_from(VALS) for k in KEYS}
)


@st.composite
def _case(draw):
    mode = draw(st.sampled_from(["plain", "on", "ignoring"]))
    op = draw(st.sampled_from(["+", "-", "*"]))
    mod_keys = (
        draw(st.lists(st.sampled_from(KEYS), min_size=1, max_size=2, unique=True))
        if mode != "plain"
        else []
    )

    def match_sig(labels: dict) -> tuple:
        if mode == "on":
            return tuple((k, labels.get(k, "")) for k in sorted(mod_keys))
        dropped = set(mod_keys) if mode == "ignoring" else set()
        return tuple(
            (k, v) for k, v in sorted(labels.items()) if k not in dropped
        )

    def unique_side(maps: list[dict]) -> list[dict]:
        seen, out = set(), []
        for m in maps:
            s = match_sig(m)
            if s not in seen:  # one-to-one matching only: unique signatures
                seen.add(s)
                out.append(m)
        return out

    left = unique_side(draw(st.lists(_label_map, min_size=1, max_size=4)))
    right = unique_side(draw(st.lists(_label_map, min_size=1, max_size=4)))
    return mode, op, mod_keys, left, right, match_sig


def _expected_duckdb(mode, op, mod_keys, left, right, match_sig):
    """Join oracle: both sides as relations with ''-coalesced label
    columns, equi-join on the mode's match keys + ts, op in SQL."""
    con = duckdb.connect()

    def _rel(name, maps, base):
        rows = []
        for i, m in enumerate(maps):
            for s in range(2):
                rows.append(
                    tuple(m.get(k, "") for k in KEYS)
                    + (T0 + s * H, float(base + 2 * i + s))
                )
        con.execute(
            f"CREATE TABLE {name} (job VARCHAR, inst VARCHAR, env VARCHAR, "
            "ts BIGINT, value DOUBLE)"
        )
        con.executemany(
            f"INSERT INTO {name} VALUES (?, ?, ?, ?, ?)", rows
        )

    _rel("l", left, 1)
    _rel("r", right, 100)
    join_keys = (
        sorted(mod_keys)
        if mode == "on"
        else [k for k in KEYS if not (mode == "ignoring" and k in mod_keys)]
    )
    on = " AND ".join(f"l.{k} = r.{k}" for k in join_keys) or "TRUE"
    sql_op = {"+": "+", "-": "-", "*": "*"}[op]
    rows = con.execute(
        f"SELECT {', '.join('l.' + k for k in KEYS)}, l.ts, "
        f"l.value {sql_op} r.value FROM l JOIN r ON {on} AND l.ts = r.ts"
    ).fetchall()

    out = {}
    for *lvals, ts, v in rows:
        llabels = {k: lv for k, lv in zip(KEYS, lvals) if lv}
        if mode == "on":
            keep = {k: llabels[k] for k in mod_keys if k in llabels}
        elif mode == "ignoring":
            keep = {k: v2 for k, v2 in llabels.items() if k not in mod_keys}
        else:
            keep = llabels
        out.setdefault(tuple(sorted(keep.items())), {})[ts] = v
    return out


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_case())
def test_vector_matching_matches_duckdb_join(spark, case):
    from tests.yaml_harness import _FIXTURE_SCHEMA, FixtureSource
    from time_series_db_spark.lang.prom.builder import execute

    mode, op, mod_keys, left, right, match_sig = case

    rows = []
    for i, m in enumerate(left):
        for s in range(2):
            rows.append(
                ({**m, "name": "a"}, T0 + s * H, float(1 + 2 * i + s), 0)
            )
    for i, m in enumerate(right):
        for s in range(2):
            rows.append(
                ({**m, "name": "b"}, T0 + s * H, float(100 + 2 * i + s), 0)
            )
    src = FixtureSource(spark, [spark.createDataFrame(rows, _FIXTURE_SCHEMA)])

    if mode == "on":
        query = f"a {op} on({', '.join(mod_keys)}) b"
    elif mode == "ignoring":
        query = f"a {op} ignoring({', '.join(mod_keys)}) b"
    else:
        query = f"a {op} b"

    sf = execute(query, src, T0, T0 + 2 * H, H)
    got = {}
    for r in sf.df.collect():
        labels = {k: v for k, v in dict(r["labels"]).items() if v}
        got.setdefault(tuple(sorted(labels.items())), {})[r["ts"]] = r["value"]

    expected = _expected_duckdb(mode, op, mod_keys, left, right, match_sig)
    assert got == expected, f"query={query!r} left={left} right={right}"


@st.composite
def _histogram(draw):
    """Random valid classic histogram: strictly increasing positive
    bounds, strictly increasing cumulative counts, empty +Inf tail (so
    every quantile lands in a finite bucket)."""
    n = draw(st.integers(min_value=2, max_value=5))
    widths = draw(
        st.lists(
            st.floats(min_value=0.5, max_value=50.0, allow_nan=False),
            min_size=n, max_size=n,
        )
    )
    bounds = []
    acc = 0.0
    for w in widths:
        acc += w
        bounds.append(round(acc, 3))
    incs = draw(
        st.lists(st.integers(min_value=1, max_value=20), min_size=n, max_size=n)
    )
    cum, counts = 0, []
    for i in incs:
        cum += i
        counts.append(float(cum))
    phi = draw(st.floats(min_value=0.1, max_value=0.9, allow_nan=False))
    return bounds, counts, phi


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_histogram())
def test_histogram_fraction_inverts_quantile(spark, hist):
    """For any valid histogram with an empty +Inf tail and φ ∈ (0, 1):
    histogram_fraction(0, histogram_quantile(φ)) == φ — the two share
    one interpolation model, so each must invert the other exactly (up
    to float round-trip)."""
    from tests.test_prom_exec import _source, _series

    bounds, counts, phi = hist
    rows = [
        ({"name": "h", "le": str(b)}, T0, c) for b, c in zip(bounds, counts)
    ]
    rows.append(({"name": "h", "le": "+Inf"}, T0, counts[-1]))
    src = _source(spark, rows)
    q = _series(spark, src, f"histogram_quantile({phi!r}, h)", n_steps=1)[T0]
    frac = _series(spark, src, f"histogram_fraction(0, {q!r}, h)", n_steps=1)[T0]
    assert frac == pytest.approx(phi, rel=1e-9, abs=1e-9)


_V2V = st.sampled_from([
    "abs({})", "ceil({})", "floor({})", "exp({})", "ln({})", "sqrt({})",
    "clamp_max({}, 10)", "clamp_min({}, 0.1)", "clamp({}, 0, 5)",
    "sort({})", "sort_desc({})", "sgn({})", "round({}, 0.5)",
    "sum by (region) ({})", "avg without (region) ({})",
    "max ({})", "count by (name) ({})", "topk(2, {})",
    "{} + 1", "{} * -2", "-{}", "{} > bool 0.5", "{} > bool 0.5 + 1",
    "{0} or sort_desc({0})", "sort({0}) and {0}",
    "label_replace({}, \"dst\", \"$1\", \"region\", \"(.*)\")",
])


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(wrappers=st.lists(_V2V, min_size=0, max_size=3))
def test_promql_random_chain_never_crashes(spark, wrappers):
    """Grammar fuzz: any chain of instant-vector functions around a
    selector must parse, build, and execute to the canonical schema."""
    from time_series_db_spark.lang.prom.builder import execute as execute_promql
    from time_series_db_spark.model import SAMPLE_COLS
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    expr = "error"
    for w in wrappers:
        expr = w.format(expr)
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = execute_promql(
        expr, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 4 * DEFAULT_STEP_MS,
        DEFAULT_STEP_MS,
    )
    assert [c for c in sf.df.columns if not c.startswith("__")] == SAMPLE_COLS
    sf.df.limit(20).collect()


_RANGE_FNS = st.sampled_from([
    "avg_over_time", "max_over_time", "min_over_time", "sum_over_time",
    "count_over_time", "last_over_time", "stddev_over_time",
    "quantile_over_time(0.9, ", "changes", "resets", "delta", "deriv",
])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    inner=st.lists(_V2V, min_size=0, max_size=2),
    range_fn=_RANGE_FNS,
    outer=st.lists(_V2V, min_size=0, max_size=1),
)
def test_promql_subquery_chain_never_crashes(spark, inner, range_fn, outer):
    """Fuzz range functions over subqueries: fn((expr)[4h:1h]) for any
    instant-vector expr, optionally wrapped further — parser, subquery
    evaluator, and window builder must all compose."""
    from time_series_db_spark.lang.prom.builder import execute as run
    from time_series_db_spark.model import SAMPLE_COLS
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    expr = "error"
    for w in inner:
        expr = w.format(expr)
    if "(" in range_fn:  # prefix form carries its own open paren + arg
        expr = f"{range_fn}({expr})[4h:1h])"
    else:
        expr = f"{range_fn}(({expr})[4h:1h])"
    for w in outer:
        expr = w.format(expr)
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = run(
        expr, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 4 * DEFAULT_STEP_MS,
        DEFAULT_STEP_MS,
    )
    assert [c for c in sf.df.columns if not c.startswith("__")] == SAMPLE_COLS
    sf.df.limit(20).collect()


# ---------------------------------------------------------------------------
# subquery × offset × @ composition (r6): the directed tests pin each
# modifier alone; this replays fn(m[r:s] offset o) and fn((m @ t)[r:s])
# for randomized (fn, r, s, o, t) against an exact sequential Python
# replay of the documented grid semantics — the same method that caught
# the over_time window-detachment bug (commit 7ce8225).
# ---------------------------------------------------------------------------

_Q15 = 900_000  # fixture sample spacing: 15m
_SQ_FNS = {
    "avg_over_time": lambda vs: sum(vs) / len(vs),
    "sum_over_time": lambda vs: sum(vs),
    "max_over_time": lambda vs: max(vs),
    "min_over_time": lambda vs: min(vs),
    "count_over_time": lambda vs: float(len(vs)),
    "last_over_time": lambda vs: vs[-1],
}


def _val15(ts: int) -> float:
    """Deterministic fixture value at a 15m sample instant."""
    return float((ts // _Q15) * 37 % 101 + 1)


def _sq_fixture_source(spark):
    """One dense series 'm' every 15m over [T0-12h, T0+4h)."""
    rows = [
        ({"name": "m"}, ts, _val15(ts))
        for ts in range(T0 - 12 * H, T0 + 4 * H, _Q15)
    ]
    from tests.yaml_harness import _FIXTURE_SCHEMA, FixtureSource

    df = spark.createDataFrame(
        [(l, t, v, 0) for l, t, v in rows], _FIXTURE_SCHEMA
    )
    return FixtureSource(spark, [df])


def _sq_run(spark, query):
    from time_series_db_spark.lang.prom.builder import execute

    sf = execute(query, _sq_fixture_source(spark), T0, T0 + 4 * H, H)
    out = {}
    for r in sf.df.collect():
        if T0 <= r["ts"] < T0 + 4 * H:
            out[r["ts"]] = r["value"]
    return out


def _v_s(t: int, s: int) -> float:
    """Inner-grid value at instant t, step s: the fixture grid is LWW
    (latest raw sample in [t, t+s) wins), and samples are dense at 15m."""
    return _val15(t + s - _Q15)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fn=st.sampled_from(sorted(_SQ_FNS)),
    s=st.sampled_from([900_000, 1_800_000, 3_600_000]),
    r_mult=st.integers(min_value=1, max_value=6),
    o_mult=st.integers(min_value=0, max_value=3),
)
def test_subquery_offset_matches_replay(spark, fn, s, r_mult, o_mult):
    """fn(m[r:s] offset o): the outer window at instant T must cover the
    inner-grid instants (T-r, T] of the OFFSET-SHIFTED subquery frame —
    4 query instants × 50 random (fn, r, s, o) draws, exact replay."""
    r, o = r_mult * s, o_mult * s
    got = _sq_run(spark, f"{fn}(m[{r // 1000}s:{s // 1000}s] offset {o // 1000}s)")
    assert sorted(got) == [T0 + i * H for i in range(4)]
    for T, v in got.items():
        vals = [
            _v_s(tt - o, s) for tt in range(T - r + s, T + s, s)
        ]
        assert v == pytest.approx(_SQ_FNS[fn](vals), rel=1e-9), (
            fn, r, s, o, T,
        )


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fn=st.sampled_from(sorted(_SQ_FNS)),
    s=st.sampled_from([900_000, 1_800_000, 3_600_000]),
    r_mult=st.integers(min_value=1, max_value=6),
    te_q15=st.integers(min_value=0, max_value=15),
)
def test_at_inside_subquery_matches_replay(spark, fn, s, r_mult, te_q15):
    """fn((m @ t)[r:s]): the pinned inner expression is a constant line
    on the subquery grid, so every window holds exactly r/s copies of
    the value at the last inner-grid instant ≤ t — count/sum must see
    the window width, the rest the pinned value."""
    r = r_mult * s
    te = T0 + te_q15 * _Q15  # within [T0, T0+4h), not always on the s grid
    got = _sq_run(spark, f"{fn}((m @ {te // 1000})[{r // 1000}s:{s // 1000}s])")
    assert sorted(got) == [T0 + i * H for i in range(4)]
    pinned = _v_s((te // s) * s, s)
    k = r // s
    expect = {
        "count_over_time": float(k),
        "sum_over_time": pinned * k,
    }.get(fn, pinned)
    for T, v in got.items():
        assert v == pytest.approx(expect, rel=1e-9), (fn, r, s, te, T)


@settings(max_examples=60, deadline=None)
@given(wrappers=st.lists(_V2V, min_size=0, max_size=4))
def test_format_query_round_trips_fuzz(wrappers):
    """Formatter property over the grammar-fuzz corpus: any expression
    the chain generator produces must canonicalize to text that
    re-parses to the identical tree, idempotently.  Parser-only — no
    Spark session."""
    from time_series_db_spark.lang.prom.fmt import format_query
    from time_series_db_spark.lang.prom.parser import parse

    expr = "error"
    for w in wrappers:
        expr = w.format(expr)
    formatted = format_query(expr)
    assert parse(formatted) == parse(expr)
    assert format_query(formatted) == formatted
