"""M3QL grammar fuzz: random pipelines over the full stage vocabulary
with plausible AND implausible argument shapes must either plan or fail
with the TYPED front-end errors (M3ParseError / M3PlanError) — never a
raw TypeError/IndexError/KeyError escaping the parser or planner.  The
PromQL side has an equivalent grammar-fuzz corpus; this is the M3QL
analog (parse/plan only — execution correctness is the oracle suite's
job)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

#: property/fuzz/invariance sweep: the slow tier
pytestmark = pytest.mark.slow

_STAGES = [
    "abs", "logarithm", "sqrt", "scale", "divideScalar", "offset",
    "round", "scaleToSeconds", "timeshift", "where", "tagCompare",
    "excludeByTag", "removeEmpty", "sustain", "isNonNull", "moving",
    "summarize", "derivative", "perSecond", "perSecondRate", "integral",
    "changed", "keepLastValue", "transformNull", "topK", "head", "tail",
    "percentileOfSeries", "histogramPercentile", "alias", "aliasByTags",
    "showTags", "mapKey", "tagSub", "fallbackSeries", "sort",
    "nonNegativeDerivative", "aliasSub", "nPercentile", "constantLine",
    "anomalies", "decimate", "seasonalAdjust", "seasonalDecompose",
    "forecast", "rollingCorr",
    "showAnomalyThresholds",
    "changepoints", "interpolate", "ewma", "movingPercentile",
    "timestamp", "toHistogram", "aliasByDistinctTags", "asBurnRate",
    "sum", "avg", "min", "max", "count", "multiply", "range",
]

_ARGS = st.sampled_from(
    ["", "1", "0", "-3", "2.5", "1h", "10m", "2d", "region", "name",
     "avg", "sum", "last", "lttb", "minmax", "residual", "bogus",
     "'quoted'", "*", "a=b", "!x", "99", "0.5", "1e3", "auto",
     "noDrift",
     "seasonal"]
)


@st.composite
def _pipelines(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    stages = []
    for _ in range(n):
        name = draw(st.sampled_from(_STAGES))
        nargs = draw(st.integers(min_value=0, max_value=3))
        args = [draw(_ARGS) for _ in range(nargs)]
        stages.append(" ".join([name] + [a for a in args if a]))
    return "fetch name:error | " + " | ".join(stages)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=_pipelines())
def test_parse_plan_fails_typed_or_succeeds(query):
    from time_series_db_spark.lang.m3.parser import M3ParseError, parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan

    try:
        build_plan(parse(query))
    except (M3ParseError, M3PlanError):
        pass  # typed rejection is a correct outcome for garbage args


@pytest.mark.parametrize(
    "query",
    [
        "fetch name:error | moving",             # missing window
        "fetch name:error | topK x",             # non-numeric k
        "fetch name:error | summarize 1h bogus",  # unknown agg fn
        "fetch name:error | decimate 0",          # non-positive bucket
        "fetch name:error | seasonalAdjust 1h 1d",  # bucket > season
        "fetch name:error | seasonalAdjust auto 1h residual",  # auto arity
        "fetch name:error | seasonalAdjust auto bogus",  # bad auto output
        "fetch name:error | changepoints 0",         # non-positive threshold
        "fetch name:error | changepoints 3 -1",      # negative slack
        "fetch name:error | changepoints 3 1 x",     # arity
        "fetch name:error | interpolate 0",          # non-positive limit
        "fetch name:error | interpolate 2 3",        # arity
        "fetch name:error | ewma",                   # missing window
        "fetch name:error | ewma 0",                 # non-positive window
        "fetch name:error | ewma 10 1.5",            # alpha out of range
        "fetch name:error | movingPercentile 3h",    # missing percentile
        "fetch name:error | movingPercentile 3h 101",  # out of range
        "fetch name:error | movingPercentile 3h x",  # non-numeric
        "fetch name:error | scale",               # missing factor
        "fetch name:error | topK Inf",            # int(float(Inf)) overflow
        "fetch name:error | head Inf",
        "fetch name:error | union avg 0.0",       # non-pipeline union args
        "fetch name:error | union x",             # union arity
        "fetch name:error | multiBurnRate minmax (fetch name:x) 2.5",
    ],
)
def test_known_bad_args_fail_typed(query):
    from time_series_db_spark.lang.m3.parser import M3ParseError, parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan

    with pytest.raises((M3ParseError, M3PlanError)):
        build_plan(parse(query))
