"""End-to-end PromQL language catalog: text query → parse → build → Spark.

The PromQL analog of catalog_m3ql.py — complete PromQL query strings run
through the front-end (lang/prom) against the events table and are
differentially tested against DuckDB oracles. Covers the reference's
implemented subset (selectors/matchers, rate, increase, aggregations
by — PromSourceBuilderVisitor.java) AND the FunctionType entries the
reference leaves unimplemented (irate, delta, deriv, changes, resets,
*_over_time, math/clamp, `without`) per SURVEY.md §2.2's goal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from time_series_db_spark.catalog import (
    PRELUDE,
    SQL_LBLS,
    _W,
    quant,
    register,
    sql_quant,
)
from time_series_db_spark.lang.prom.builder import execute
from time_series_db_spark.model import SeriesFrame
from time_series_db_spark.sources import (
    DEFAULT_STEP_MS,
    EVENTS_MAX_TS,
    EVENTS_MIN_TS,
)
from time_series_db_spark.sources.m3source import EventsSource

LABEL_KEYS = ["name", "user", "region", "shard"]

#: 3h range vector = 3 grid steps; trailing RANGE frame spans 2 steps back
_RANGE_MS = 3 * DEFAULT_STEP_MS
_FRAME = (
    f"{_W} RANGE BETWEEN {_RANGE_MS - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW"
)

def _lagged(metric: str) -> str:
    """lag CTE over one metric's samples — rate-family oracles."""
    return f""",
src AS (SELECT * FROM samples WHERE name = '{metric}'),
lagged AS (
  SELECT {SQL_LBLS}, ts, value,
         lag(value) OVER ({_W}) AS pv, lag(ts) OVER ({_W}) AS pts
  FROM src)"""


def run_promql(spark, sf_dir: str, query: str) -> SeriesFrame:
    return execute(
        query,
        EventsSource(spark, sf_dir),
        EVENTS_MIN_TS,
        EVENTS_MAX_TS,
        DEFAULT_STEP_MS,
    )


def _flat(sf: SeriesFrame, keys: list[str]) -> DataFrame:
    return sf.df.select(
        *[F.col("labels")[k].alias(k) for k in keys],
        F.col("ts"),
        quant(F.col("value")).alias("value"),
    )


@register(
    "promql_selector",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE name = 'error' AND region = 'r1'""",
)
def promql_selector(spark, sf_dir):
    """Instant vector selector with label matchers — golden query 2 shape
    (PromSourceBuilderVisitor.java buildQueryForFetch)."""
    sf = run_promql(spark, sf_dir, 'error{region="r1"}')
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_selector_regex",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples
    WHERE regexp_full_match(name, '(?:err.*|click)')
      AND NOT regexp_full_match("user", '(?:1.*)')""",
)
def promql_selector_regex(spark, sf_dir):
    """=~ / !~ regex matchers, fully anchored (MatcherType.java)."""
    sf = run_promql(spark, sf_dir, '{__name__=~"err.*|click", user!~"1.*"}')
    return _flat(sf, LABEL_KEYS)


_RATE_CORE = f""",
rates AS (
  SELECT {SQL_LBLS}, ts,
         (CASE WHEN value < pv THEN value ELSE value - pv END)
           / ((ts - pts) / 1000.0) AS rate
  FROM lagged WHERE pts IS NOT NULL)"""


@register(
    "promql_rate",
    f"""{PRELUDE}{_lagged("error")}{_RATE_CORE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'avg(rate) OVER ({_FRAME})')} AS value
    FROM rates""",
)
def promql_rate(spark, sf_dir):
    """rate(v[3h]) → PerSecondRateStage(range, 1000) —
    PromSourceBuilderVisitor.java:155-164."""
    sf = run_promql(spark, sf_dir, "rate(error[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_increase",
    f"""{PRELUDE}{_lagged("error")}{_RATE_CORE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'avg(rate) OVER ({_FRAME}) * 0.001')} AS value
    FROM rates""",
)
def promql_increase(spark, sf_dir):
    """increase(v[3h]) → PerSecondRateStage(range, 1) —
    PromSourceBuilderVisitor.java:165-173 (reference-faithful, incl. its
    TODO that this is rate-shaped rather than extrapolated)."""
    sf = run_promql(spark, sf_dir, "increase(error[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_irate",
    f"""{PRELUDE}{_lagged("error")}
    SELECT {SQL_LBLS}, ts,
           {sql_quant('(CASE WHEN value < pv THEN value ELSE value - pv END) / ((ts - pts) / 1000.0)')} AS value
    FROM lagged WHERE pts IS NOT NULL""",
)
def promql_irate(spark, sf_dir):
    """irate(v[3h]): last-two-samples instant rate — FunctionType.IRATE."""
    sf = run_promql(spark, sf_dir, "irate(error[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_delta",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'value - first_value(value) OVER ({_FRAME})')} AS value
    FROM samples WHERE name = 'view'""",
)
def promql_delta(spark, sf_dir):
    """delta(v[3h]): gauge difference over the window — FunctionType.DELTA."""
    sf = run_promql(spark, sf_dir, "delta(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_avg_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'avg(value) OVER ({_FRAME})')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_avg_over_time(spark, sf_dir):
    """avg_over_time(v[3h]) — FunctionType.AVG_OVER_TIME."""
    sf = run_promql(spark, sf_dir, "avg_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_quantile_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'quantile_cont(value, 0.9) OVER ({_FRAME})')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_quantile_over_time(spark, sf_dir):
    """quantile_over_time(0.9, v[3h]): exact interpolated quantile —
    FunctionType.QUANTILE_OVER_TIME."""
    sf = run_promql(spark, sf_dir, "quantile_over_time(0.9, view[3h])")
    return _flat(sf, LABEL_KEYS)


_CHG_W = 6 * DEFAULT_STEP_MS
_CHG_FRAME = (
    f"{_W} RANGE BETWEEN {_CHG_W - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW"
)


@register(
    "promql_changes",
    f"""{PRELUDE}{_lagged("purchase")},
    flagged AS (
      SELECT {SQL_LBLS}, ts,
             CASE WHEN pts IS NOT NULL AND ts - pts < {_CHG_W}
                   AND ((value <> pv OR isnan(value) <> isnan(pv))
                        AND NOT (isnan(value) AND isnan(pv)))
                  THEN 1.0 ELSE 0.0 END AS chg
      FROM lagged)
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'sum(chg) OVER ({_CHG_FRAME})')} AS value
    FROM flagged""",
)
def promql_changes(spark, sf_dir):
    """changes(v[6h]): value changes between consecutive in-window samples
    — FunctionType.CHANGES."""
    sf = run_promql(spark, sf_dir, "changes(purchase[6h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_resets",
    f"""{PRELUDE}{_lagged("purchase")},
    flagged AS (
      SELECT {SQL_LBLS}, ts,
             CASE WHEN pts IS NOT NULL AND ts - pts < {_CHG_W} AND value < pv
                  THEN 1.0 ELSE 0.0 END AS rst
      FROM lagged)
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'sum(rst) OVER ({_CHG_FRAME})')} AS value
    FROM flagged""",
)
def promql_resets(spark, sf_dir):
    """resets(v[6h]): counter decreases in the window — FunctionType.RESETS."""
    sf = run_promql(spark, sf_dir, "resets(purchase[6h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_deriv",
    f"""{PRELUDE},
    moments AS (
      SELECT {SQL_LBLS}, ts,
             avg((ts - 1704067200000) / 1000.0) OVER ({_CHG_FRAME}) AS mt,
             avg(value) OVER ({_CHG_FRAME}) AS mv,
             avg(((ts - 1704067200000) / 1000.0) * value) OVER ({_CHG_FRAME}) AS mtv,
             avg(((ts - 1704067200000) / 1000.0) * ((ts - 1704067200000) / 1000.0)) OVER ({_CHG_FRAME}) AS mtt
      FROM (SELECT * FROM samples WHERE name = 'click'))
    SELECT {SQL_LBLS}, ts,
           {sql_quant("CASE WHEN mtt - mt * mt = 0 THEN 'NaN'::DOUBLE "
                      "ELSE (mtv - mt * mv) / (mtt - mt * mt) END")} AS value
    FROM moments""",
)
def promql_deriv(spark, sf_dir):
    """deriv(v[6h]): least-squares per-second slope — FunctionType.DERIV."""
    sf = run_promql(spark, sf_dir, "deriv(click[6h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_sum_by_rate",
    f"""{PRELUDE}{_lagged("error")}{_RATE_CORE},
    smoothed AS (
      SELECT {SQL_LBLS}, ts, avg(rate) OVER ({_FRAME}) AS value
      FROM rates)
    SELECT region, ts, {sql_quant('sum(value)')} AS value
    FROM smoothed GROUP BY region, ts""",
)
def promql_sum_by_rate(spark, sf_dir):
    """sum by (region) (rate(v[3h])) — the reference's golden query 0
    shape (data/queries/0.promql), full pipeline through both stages."""
    sf = run_promql(spark, sf_dir, "sum by (region) (rate(error[3h]))")
    return _flat(sf, ["region"])


@register(
    "promql_count_without",
    f"""{PRELUDE}
    SELECT name, region, ts, {sql_quant('count(value)::DOUBLE')} AS value
    FROM samples WHERE name = 'view' GROUP BY name, region, ts""",
)
def promql_count_without(spark, sf_dir):
    """count without (user, shard) (v) — the `without` modifier the
    reference rejects (PromSourceBuilderVisitor.java:258-260)."""
    sf = run_promql(spark, sf_dir, "count without (user, shard) (view)")
    return _flat(sf, ["name", "region"])


@register(
    "promql_math_clamp",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant('least(ceiling(sqrt(value)), 11.0)')} AS value
    FROM samples WHERE name = 'signup'""",
)
def promql_math_clamp(spark, sf_dir):
    """clamp_max(ceil(sqrt(v)), 11): chained math mappers —
    FunctionType.{SQRT,CEIL,CLAMP_MAX}."""
    sf = run_promql(spark, sf_dir, "clamp_max(ceil(sqrt(signup)), 11)")
    return _flat(sf, LABEL_KEYS)


# ---------------------------------------------------------------------------
# Extended aggregation operators (beyond AggregationType.java's five) and
# the remaining FunctionType entries — full enum coverage.
# ---------------------------------------------------------------------------


@register(
    "promql_topk_agg",
    f"""{PRELUDE},
    summed AS (
      SELECT name, ts, sum(value) AS value FROM samples GROUP BY name, ts),
    ranked AS (
      SELECT name, ts, value,
             row_number() OVER (
               PARTITION BY ts ORDER BY value DESC, 'name:' || name) AS rnk
      FROM summed)
    SELECT name, ts, {sql_quant('value')} AS value
    FROM ranked WHERE rnk <= 3""",
)
def promql_topk_agg(spark, sf_dir):
    """topk(3, sum by (name)(v)): per-timestamp top-k selection — a PromQL
    aggregation the reference's AggregationType lacks; ranks per evaluation
    step (unlike M3 topK's whole-series ranking, TopKStage.java:57)."""
    sf = run_promql(spark, sf_dir, "topk(3, sum by (name) ({__name__=~\".+\"}))")
    return _flat(sf, ["name"])


@register(
    "promql_quantile_agg",
    f"""{PRELUDE}
    SELECT name, ts, {sql_quant('quantile_cont(value, 0.9)')} AS value
    FROM samples GROUP BY name, ts""",
)
def promql_quantile_agg(spark, sf_dir):
    """quantile by (name) (0.9, v): exact interpolated φ-quantile across
    series per timestamp."""
    sf = run_promql(spark, sf_dir, 'quantile by (name) (0.9, {__name__=~".+"})')
    return _flat(sf, ["name"])


@register(
    "promql_stddev_agg",
    f"""{PRELUDE}
    SELECT name, ts,
           {sql_quant('coalesce(stddev_pop(value), 0.0)')} AS value
    FROM samples GROUP BY name, ts""",
)
def promql_stddev_agg(spark, sf_dir):
    """stddev by (name) (v): population stddev across series per ts."""
    sf = run_promql(spark, sf_dir, 'stddev by (name) ({__name__=~".+"})')
    return _flat(sf, ["name"])


@register(
    "promql_trig_chain",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant('degrees(atan(sin(value)))')} AS value
    FROM samples WHERE name = 'click'""",
)
def promql_trig_chain(spark, sf_dir):
    """deg(atan(sin(v))): trig mappers — FunctionType.{SIN,ATAN,DEG}."""
    sf = run_promql(spark, sf_dir, "deg(atan(sin(click)))")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_time_fields",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           CAST(dayofweek(to_timestamp(ts / 1000)) AS DOUBLE) AS value
    FROM samples WHERE name = 'signup'""",
)
def promql_time_fields(spark, sf_dir):
    """day_of_week(timestamp(v)): time functions over value-as-epoch-
    seconds — FunctionType.{TIMESTAMP,DAY_OF_WEEK} (0=Sunday, UTC)."""
    sf = run_promql(spark, sf_dir, "day_of_week(timestamp(signup))")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_predict_linear",
    f"""{PRELUDE},
    moments AS (
      SELECT {SQL_LBLS}, ts,
             avg((ts - 1704067200000) / 1000.0) OVER ({_CHG_FRAME}) AS mt,
             avg(value) OVER ({_CHG_FRAME}) AS mv,
             avg(((ts - 1704067200000) / 1000.0) * value) OVER ({_CHG_FRAME}) AS mtv,
             avg(((ts - 1704067200000) / 1000.0) * ((ts - 1704067200000) / 1000.0)) OVER ({_CHG_FRAME}) AS mtt
      FROM (SELECT * FROM samples WHERE name = 'click'))
    SELECT {SQL_LBLS}, ts,
           {sql_quant("CASE WHEN mtt - mt * mt = 0 THEN 'NaN'::DOUBLE "
                      "ELSE mv + ((mtv - mt * mv) / (mtt - mt * mt))"
                      "     * (((ts - 1704067200000) / 1000.0 + 3600.0) - mt) END")} AS value
    FROM moments""",
)
def promql_predict_linear(spark, sf_dir):
    """predict_linear(v[6h], 3600): least-squares extrapolation 1h ahead —
    FunctionType.PREDICT_LINEAR (same moment algebra as deriv)."""
    sf = run_promql(spark, sf_dir, "predict_linear(click[6h], 3600)")
    return _flat(sf, LABEL_KEYS)


_HW_W = 12 * 3600 * 1000
_HW_FRAME = (
    f"{_W} RANGE BETWEEN {_HW_W - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW"
)
#: the level/trend recurrence UNROLLED as a chain of scalar CTEs —
#: NOT list_reduce: DuckDB 1.0's lambda fold with a struct accumulator
#: returned run-order-dependent values on identical inputs under the
#: parity harness (three different outputs for one 4-sample window;
#: caught by the r7 sf0.1 parity sweep).  The window holds at most
#: window/step samples, so the unroll is bounded and every step is a
#: plain deterministic scalar expression.  The complements are written
#: as (1.0 − factor), not decimal literals: Spark's fold computes
#: (1.0D − 0.3D) = 0.7000000000000001, one ulp off literal 0.7 — a
#: difference the recurrence amplifies past the 1e-4 quantization.
_HW_STEPS = _HW_W // DEFAULT_STEP_MS  # max samples per trailing window


def _sql_hw_unrolled(n_steps: int) -> str:
    """CTE chain hwf1..hwf{n}: seed (lv=l[1], tr=l[2]−l[1]), then each
    step i applies the smoothing update with x=l[i] when the window has
    that many samples (mirrors Spark's fold over slice(win, 2, size),
    which re-processes the second sample — both engines, by design)."""
    sql = """,
    hwf1 AS (
      SELECT *, l[1]::DOUBLE AS lv, (l[2] - l[1])::DOUBLE AS tr
      FROM wins)"""
    for i in range(2, n_steps + 1):
        sql += f""",
    hwf{i} AS (
      SELECT * EXCLUDE (lv, tr),
        CASE WHEN len(l) >= {i}
             THEN 0.3::DOUBLE * l[{i}]::DOUBLE
                  + (1.0::DOUBLE - 0.3::DOUBLE) * (lv + tr)
             ELSE lv END AS lv,
        CASE WHEN len(l) >= {i}
             THEN 0.1::DOUBLE * ((0.3::DOUBLE * l[{i}]::DOUBLE
                  + (1.0::DOUBLE - 0.3::DOUBLE) * (lv + tr)) - lv)
                  + (1.0::DOUBLE - 0.1::DOUBLE) * tr
             ELSE tr END AS tr
      FROM hwf{i - 1})"""
    return sql


_HW_FOLD = "CASE WHEN len(l) < 2 THEN 'NaN'::DOUBLE ELSE lv END"


@register(
    "promql_holt_winters",
    f"""{PRELUDE},
    hwsrc AS (SELECT * FROM samples WHERE name = 'purchase'),
    wins AS (
      -- NOT a windowed list(): DuckDB's windowed list aggregate gave
      -- run-order-dependent results under thread contention (caught by
      -- the r7 sf0.1 parity sweep; an order-SENSITIVE fold consumes
      -- this list, unlike the median/max windows elsewhere).  A
      -- self-join + grouped list(... ORDER BY ts) is fully specified.
      SELECT s.name, s."user", s.region, s.shard, s.ts,
             list(w.value ORDER BY w.ts) AS l
      FROM hwsrc s
      JOIN hwsrc w
        ON w."user" = s."user" AND w.region = s.region
       AND w.shard = s.shard
       AND w.ts BETWEEN s.ts - {_HW_W - DEFAULT_STEP_MS} AND s.ts
      GROUP BY 1, 2, 3, 4, 5)
    {_sql_hw_unrolled(_HW_STEPS)}
    SELECT {SQL_LBLS}, ts, {sql_quant(_HW_FOLD)} AS value
    FROM hwf{_HW_STEPS}""",
)
def promql_holt_winters(spark, sf_dir):
    """holt_winters(v[12h], 0.3, 0.1): double exponential smoothing —
    FunctionType.HOLT_WINTERS. Oracle replays the sequential level/trend
    recurrence UNROLLED as scalar CTE steps over an ordered grouped
    window list (see _sql_hw_unrolled for why neither windowed list()
    nor list_reduce is trustworthy here); value correctness is
    additionally pinned by the golden test (tests/test_promql_golden.py)
    against a Python-computed reference."""
    sf = run_promql(spark, sf_dir, "holt_winters(purchase[12h], 0.3, 0.1)")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_absent",
    f"""SELECT 'nosuch' AS name, 'r9' AS region, gs AS ts,
           1.0::DOUBLE AS value
    FROM generate_series({EVENTS_MIN_TS}, {EVENTS_MAX_TS - DEFAULT_STEP_MS},
                         {DEFAULT_STEP_MS}) t(gs)""",
)
def promql_absent(spark, sf_dir):
    """absent(v): dense 1-series labeled from the selector's equality
    matchers when the vector is empty — FunctionType.ABSENT."""
    sf = run_promql(spark, sf_dir, 'absent(nosuch{region="r9"})')
    return _flat(sf, ["name", "region"])


@register(
    "promql_scalar_time",
    f"""SELECT gs AS ts, {sql_quant('sin(gs / 1000.0)')} AS value
    FROM generate_series({EVENTS_MIN_TS}, {EVENTS_MAX_TS - DEFAULT_STEP_MS},
                         {DEFAULT_STEP_MS}) t(gs)""",
)
def promql_scalar_time(spark, sf_dir):
    """sin(time()): scalar-producing time() flowing through a mapper —
    FunctionType.{TIME,SIN} (scalars are label-free dense series here)."""
    sf = run_promql(spark, sf_dir, "sin(time())")
    return sf.df.select("ts", quant(F.col("value")).alias("value"))


_HQ_BOUNDS = [5.0, 20.0, 50.0]  # finite bucket uppers; +Inf appended


@register(
    "promql_histogram_quantile",
    f"""{PRELUDE},
    counts AS (
      SELECT region, ts,
             count(CASE WHEN value <= 5.0  THEN 1 END) AS c1,
             count(CASE WHEN value <= 20.0 THEN 1 END) AS c2,
             count(CASE WHEN value <= 50.0 THEN 1 END) AS c3,
             count(*) AS c4
      FROM samples WHERE name = 'view' GROUP BY region, ts)
    SELECT 'view_hist' AS name, region, ts,
           {sql_quant('''CASE
             WHEN c4 <= 0 THEN 'NaN'::DOUBLE
             WHEN c1 >= 0.5 * c4 THEN 0.0  + (5.0  - 0.0)  * ((0.5 * c4 - 0)  / c1)
             WHEN c2 >= 0.5 * c4 THEN 5.0  + (20.0 - 5.0)  * ((0.5 * c4 - c1) / (c2 - c1))
             WHEN c3 >= 0.5 * c4 THEN 20.0 + (50.0 - 20.0) * ((0.5 * c4 - c2) / (c3 - c2))
             ELSE 50.0 END''')} AS value
    FROM counts""",
)
def promql_histogram_quantile(spark, sf_dir):
    """histogram_quantile(0.5, v): Prometheus bucketQuantile with linear
    intra-bucket interpolation — FunctionType.HISTOGRAM_QUANTILE.

    Buckets are fabricated from the view metric (cumulative counts at
    le ∈ {5, 20, 50, +Inf} per (region, ts) — one series per le), then the
    operator groups on labels−{le} and interpolates. Spark shape: the
    bucketization is one explode(4)+groupBy; the quantile walk is a pure
    SQL fold (grouping.histogram_quantile), no UDF anywhere.
    """
    from time_series_db_spark.operators import grouping

    sf = _view_hist_buckets(spark, sf_dir)
    out = grouping.histogram_quantile(sf, 0.5)
    return _flat(out, ["name", "region"])


def _view_hist_buckets(spark, sf_dir):
    """Fabricate cumulative le-bucket series (le ∈ {5, 20, 50, +Inf}) per
    (region, ts) from the view metric — shared input for the
    histogram_quantile / histogram_fraction entries."""
    from time_series_db_spark.model import SAMPLE_COLS, series_key_expr
    from time_series_db_spark.sources import fetch_events

    base = fetch_events(spark, sf_dir)
    df = base.df.filter(F.col("labels")["name"] == "view")
    bounds = F.array(*[F.lit(b) for b in _HQ_BOUNDS], F.lit(float("inf")))
    exploded = df.select(
        F.col("labels")["region"].alias("region"),
        "ts", "value", F.explode(bounds).alias("le"),
    )
    buckets = (
        exploded.groupBy("region", "ts", "le")
        .agg(F.count(F.when(F.col("value") <= F.col("le"), 1)).cast("double").alias("value"))
        .select(
            F.create_map(
                F.lit("name"), F.lit("view_hist"),
                F.lit("region"), F.col("region"),
                F.lit("le"),
                F.when(F.col("le") == float("inf"), F.lit("+Inf"))
                 .otherwise(F.col("le").cast("string")),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            "ts", "value",
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return base.with_df(buckets)


@register(
    "promql_histogram_fraction",
    f"""{PRELUDE},
    counts AS (
      SELECT region, ts,
             count(CASE WHEN value <= 5.0  THEN 1 END)::DOUBLE AS c1,
             count(CASE WHEN value <= 20.0 THEN 1 END)::DOUBLE AS c2,
             count(CASE WHEN value <= 50.0 THEN 1 END)::DOUBLE AS c3,
             count(*)::DOUBLE AS c4
      FROM samples WHERE name = 'view' GROUP BY region, ts)
    SELECT 'view_hist' AS name, region, ts,
           {sql_quant('''CASE WHEN c4 <= 0 THEN 'NaN'::DOUBLE ELSE
             ((c2 + (c3 - c2) * ((30.0::DOUBLE - 20.0::DOUBLE) / (50.0::DOUBLE - 20.0::DOUBLE)))
              - (c1 + (c2 - c1) * ((10.0::DOUBLE - 5.0::DOUBLE) / (20.0::DOUBLE - 5.0::DOUBLE))))
             / c4 END''')} AS value
    FROM counts""",
)
def promql_histogram_fraction(spark, sf_dir):
    """histogram_fraction(10, 30, v) over classic le buckets: fraction of
    observations in (10, 30] estimated by the same linear intra-bucket
    interpolation as bucketQuantile, run in reverse (CDF at each bound).
    Both bounds land strictly inside buckets so the oracle's closed form
    exercises the interpolated path, not the exact-bound shortcut."""
    from time_series_db_spark.operators import grouping

    sf = _view_hist_buckets(spark, sf_dir)
    out = grouping.histogram_fraction(sf, 10.0, 30.0)
    return _flat(out, ["name", "region"])


# ---------------------------------------------------------------------------
# Binary operators — entirely beyond the reference (promql.jj:140 has no
# operator productions at all)
# ---------------------------------------------------------------------------


@register(
    "promql_scalar_arith",
    f"""{PRELUDE}
    SELECT "user", region, shard, ts,
           {sql_quant('(value * 2 + 1) / 10')} AS value
    FROM samples WHERE name = 'error'""",
)
def promql_scalar_arith(spark, sf_dir):
    """(error * 2 + 1) / 10 — vector-scalar arithmetic with precedence
    (* binds over +, parens group); the metric name drops from the
    result identity."""
    sf = run_promql(spark, sf_dir, "(error * 2 + 1) / 10")
    return _flat(sf, ["user", "region", "shard"])


@register(
    "promql_vector_divide",
    f"""{PRELUDE},
    e AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'click')
    SELECT e."user", e.region, e.shard, e.ts,
           {sql_quant('e.value / c.value')} AS value
    FROM e JOIN c USING ("user", region, shard, ts)""",
)
def promql_vector_divide(spark, sf_dir):
    """error / click — one-to-one vector matching on the full label set
    minus the metric name (PromQL default matching)."""
    sf = run_promql(spark, sf_dir, "error / click")
    return _flat(sf, ["user", "region", "shard"])


@register(
    "promql_binary_on",
    f"""{PRELUDE},
    e AS (SELECT region, ts, CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
          FROM samples WHERE name = 'error' GROUP BY 1, 2),
    c AS (SELECT region, ts, CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
          FROM samples WHERE name = 'click' GROUP BY 1, 2)
    SELECT e.region, e.ts, {sql_quant('e.v / c.v')} AS value
    FROM e JOIN c USING (region, ts)""",
)
def promql_binary_on(spark, sf_dir):
    """sum by (region)(error) / on(region) sum by (region)(click) —
    explicit on() matching; result labels are exactly the on() set."""
    sf = run_promql(
        spark, sf_dir,
        "sum by (region) (error) / on(region) sum by (region) (click)",
    )
    return _flat(sf, ["region"])


@register(
    "promql_binary_ignoring",
    f"""{PRELUDE},
    e AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'click')
    SELECT e."user", e.region, e.ts, {sql_quant('e.value - c.value')} AS value
    FROM e JOIN c USING ("user", region, ts)""",
)
def promql_binary_ignoring(spark, sf_dir):
    """error - ignoring(shard) click — matching on all labels except the
    ignored one + name; shard leaves the result identity."""
    sf = run_promql(spark, sf_dir, "error - ignoring(shard) click")
    return _flat(sf, ["user", "region"])


@register(
    "promql_cmp_filter",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE name = 'error' AND value > 100.0""",
)
def promql_cmp_filter(spark, sf_dir):
    """error > 100 — comparison as filter: samples keep full identity
    (metric name included)."""
    sf = run_promql(spark, sf_dir, "error > 100")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_cmp_bool",
    f"""{PRELUDE}
    SELECT "user", region, shard, ts,
           CASE WHEN value > 100.0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS value
    FROM samples WHERE name = 'error'""",
)
def promql_cmp_bool(spark, sf_dir):
    """error > bool 100 — 0/1 flag; bool drops the metric name."""
    sf = run_promql(spark, sf_dir, "error > bool 100")
    return _flat(sf, ["user", "region", "shard"])


@register(
    "promql_set_and",
    f"""{PRELUDE},
    e AS (SELECT {SQL_LBLS}, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT "user", region, shard, ts FROM samples
          WHERE name = 'click' AND value > 150.0)
    SELECT e.name, e."user", e.region, e.shard, e.ts, {sql_quant('e.value')} AS value
    FROM e SEMI JOIN c ON e."user" = c."user" AND e.region = c.region
       AND e.shard = c.shard AND e.ts = c.ts""",
)
def promql_set_and(spark, sf_dir):
    """error and (click > 150) — left samples where a matching right
    series (same non-name labels) exists at the timestamp."""
    sf = run_promql(spark, sf_dir, "error and (click > 150)")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_set_unless",
    f"""{PRELUDE},
    e AS (SELECT {SQL_LBLS}, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT "user", region, shard, ts FROM samples
          WHERE name = 'click' AND value > 150.0)
    SELECT e.name, e."user", e.region, e.shard, e.ts, {sql_quant('e.value')} AS value
    FROM e ANTI JOIN c ON e."user" = c."user" AND e.region = c.region
       AND e.shard = c.shard AND e.ts = c.ts""",
)
def promql_set_unless(spark, sf_dir):
    """error unless (click > 150) — complement of `and`."""
    sf = run_promql(spark, sf_dir, "error unless (click > 150)")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_set_or",
    f"""{PRELUDE},
    e AS (SELECT {SQL_LBLS}, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT {SQL_LBLS}, ts, value FROM samples WHERE name = 'click')
    SELECT * FROM (
      SELECT name, "user", region, shard, ts, {sql_quant('value')} AS value FROM e
      UNION ALL
      SELECT c.name, c."user", c.region, c.shard, c.ts, {sql_quant('c.value')} AS value
      FROM c ANTI JOIN e ON c."user" = e."user" AND c.region = e.region
         AND c.shard = e.shard AND c.ts = e.ts
    )""",
)
def promql_set_or(spark, sf_dir):
    """error or click — all error samples plus click samples whose label
    set has no error sample at that timestamp."""
    sf = run_promql(spark, sf_dir, "error or click")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_rate_ratio",
    f"""{PRELUDE},
    e AS (SELECT * FROM samples WHERE name = 'error'),
    lagged AS (
      SELECT {SQL_LBLS}, ts, value,
             lag(value) OVER ({_W}) AS pv, lag(ts) OVER ({_W}) AS pts
      FROM e),
    rates AS (
      SELECT {SQL_LBLS}, ts,
             (CASE WHEN value < pv THEN value ELSE value - pv END)
               / ((ts - pts) / 1000.0) AS rate
      FROM lagged WHERE pts IS NOT NULL),
    sm AS (
      SELECT {SQL_LBLS}, ts,
             avg(rate) OVER ({_FRAME}) AS r
      FROM rates),
    g AS (SELECT region, ts, sum(r) AS v FROM sm GROUP BY 1, 2),
    t AS (SELECT ts, sum(r) AS v FROM sm GROUP BY 1)
    SELECT g.region, g.ts, {sql_quant('g.v / t.v')} AS value
    FROM g JOIN t USING (ts)""",
)
def promql_rate_ratio(spark, sf_dir):
    """sum by (region)(rate(…)) / on() group_left sum(rate(…)) — the
    canonical share-of-total query: empty on() matches every pair at the
    timestamp, group_left keeps the many side's (region) identity."""
    sf = run_promql(
        spark, sf_dir,
        "sum by (region) (rate(error[3h]))"
        " / on() group_left sum(rate(error[3h]))",
    )
    return _flat(sf, ["region"])


@register(
    "promql_offset",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts + 86400000 AS ts, {sql_quant('value')} AS value
    FROM samples WHERE name = 'error' AND ts < {EVENTS_MAX_TS} - 86400000""",
)
def promql_offset(spark, sf_dir):
    """error offset 1d — the offset modifier (absent from the reference
    grammar): scan shifted back a day, timestamps shifted forward onto
    the query grid, exactly the m3 timeshift mechanism."""
    sf = run_promql(spark, sf_dir, "error offset 1d")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_label_replace",
    f"""{PRELUDE}
    SELECT name, region, regexp_extract(region, '^r(.*)$', 1) AS dc,
           "user", shard, ts, {sql_quant('value')} AS value
    FROM samples WHERE name = 'error'""",
)
def promql_label_replace(spark, sf_dir):
    """label_replace(error, "dc", "$1", "region", "r(.*)") — full-match
    regex capture into a new label (beyond the reference: FunctionType
    has no label functions)."""
    sf = run_promql(
        spark, sf_dir,
        'label_replace(error, "dc", "$1", "region", "r(.*)")',
    )
    return _flat(sf, ["name", "region", "dc", "user", "shard"])


@register(
    "promql_label_join",
    f"""{PRELUDE}
    SELECT name, region || '-' || shard AS host, "user", ts,
           {sql_quant('value')} AS value
    FROM samples WHERE name = 'error'""",
)
def promql_label_join(spark, sf_dir):
    """label_join(error, "host", "-", "region", "shard") — joined label
    value, recomputed series identity."""
    sf = run_promql(
        spark, sf_dir,
        'label_join(error, "host", "-", "region", "shard")',
    )
    return _flat(sf, ["name", "host", "user"])


# ---------------------------------------------------------------------------
# subqueries expr[range:step] (round 5 — beyond the reference grammar,
# like the whole operator surface): inner expression evaluated at its own
# resolution, outer range function over the result, re-gridded to the
# query step.
# ---------------------------------------------------------------------------

from time_series_db_spark.sources import oracle_samples_cte

#: 30-minute inner-resolution samples CTE (the subquery's finer grid)
_SQ_STEP = DEFAULT_STEP_MS // 2
_SQ_PRELUDE = "WITH " + oracle_samples_cte(step=_SQ_STEP)
_SQ_W = _W  # identical partition/order spec works on the finer grid


@register(
    "promql_subquery_avg",
    f"""{_SQ_PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(
               f'avg(value) OVER ({_SQ_W} RANGE BETWEEN '
               f'{6 * DEFAULT_STEP_MS - _SQ_STEP} PRECEDING AND CURRENT ROW)'
           )} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')
    QUALIFY ts % {DEFAULT_STEP_MS} = 0""",
)
def promql_subquery_avg(spark, sf_dir):
    """avg_over_time(view[6h:30m]) — the inner selector evaluates on a
    30m grid (finer than the 1h query step), the outer window spans 6h
    of those samples, and only the 1h evaluation instants survive."""
    sf = run_promql(spark, sf_dir, "avg_over_time(view[6h:30m])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_subquery_max_rate",
    f"""{PRELUDE}{_lagged("error")}{_RATE_CORE},
    smoothed AS (
      SELECT {SQL_LBLS}, ts,
             avg(rate) OVER ({_W} RANGE BETWEEN
               {2 * DEFAULT_STEP_MS - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW)
               AS value
      FROM rates)
    SELECT {SQL_LBLS}, ts,
           {sql_quant(
               f'max(value) OVER ({_W} RANGE BETWEEN '
               f'{6 * DEFAULT_STEP_MS - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW)'
           )} AS value
    FROM smoothed""",
)
def promql_subquery_max_rate(spark, sf_dir):
    """max_over_time(rate(error[2h])[6h:1h]) — the classic worst-burn
    alert shape: rate evaluated per instant of the subquery grid, max
    over the trailing 6h of those rates."""
    sf = run_promql(spark, sf_dir, "max_over_time(rate(error[2h])[6h:1h])")
    return _flat(sf, LABEL_KEYS)


# ---------------------------------------------------------------------------
# @ modifier (round 5 — beyond the reference grammar): selector evaluation
# pinned to one instant, emitted as a constant line across the query grid.
# ---------------------------------------------------------------------------

#: pinned instant for the numeric-@ entry: 12h into the events span
_AT_TE = EVENTS_MIN_TS + 12 * DEFAULT_STEP_MS
_GRID_SQL = (
    f"SELECT gs AS ts FROM generate_series({EVENTS_MIN_TS}, "
    f"{EVENTS_MAX_TS - DEFAULT_STEP_MS}, {DEFAULT_STEP_MS}) t(gs)"
)


@register(
    "promql_at_instant",
    f"""{PRELUDE},
    at_rows AS (
      SELECT {SQL_LBLS}, arg_max(value, ts) AS value FROM samples
      WHERE name = 'error' AND ts <= {_AT_TE}
      GROUP BY 1, 2, 3, 4),
    grid AS ({_GRID_SQL})
    SELECT {SQL_LBLS}, g.ts, {sql_quant('value')} AS value
    FROM at_rows CROSS JOIN grid g""",
)
def promql_at_instant(spark, sf_dir):
    """error @ <t> — the selector evaluates once at the pinned instant
    (most recent sample at or before it — the engine-grid lookback
    analog) and every query-grid step shows that value: a Prometheus
    range query of ``m @ t`` is a constant line."""
    sf = run_promql(spark, sf_dir, f"error @ {_AT_TE // 1000}")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_at_max_over_time",
    f"""{PRELUDE},
    src AS (SELECT * FROM samples WHERE name = 'error'),
    wmax AS (
      SELECT {SQL_LBLS}, ts,
             max(value) OVER ({_W} RANGE BETWEEN
               {6 * DEFAULT_STEP_MS - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW)
               AS v
      FROM src),
    pin AS (
      SELECT {SQL_LBLS}, arg_max(v, ts) AS value
      FROM wmax WHERE ts <= {EVENTS_MAX_TS - DEFAULT_STEP_MS}
      GROUP BY 1, 2, 3, 4),
    grid AS ({_GRID_SQL})
    SELECT {SQL_LBLS}, g.ts, {sql_quant('value')} AS value
    FROM pin CROSS JOIN grid g""",
)
def promql_at_max_over_time(spark, sf_dir):
    """max_over_time(error[6h] @ end()) — the range function evaluated at
    the query's last grid instant (most recent emission at or before it,
    the lookback analog), broadcast across the grid."""
    sf = run_promql(spark, sf_dir, "max_over_time(error[6h] @ end())")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_count_values",
    f"""{PRELUDE},
    r AS (
      SELECT region, ts, floor(value / 1.0 + 0.5) * 1.0 AS val
      FROM samples WHERE name = 'error')
    SELECT region, CAST(val AS VARCHAR) AS val, ts,
           CAST(count(*) AS DOUBLE) AS value
    FROM r GROUP BY 1, 2, 3""",
)
def promql_count_values(spark, sf_dir):
    """count_values by (region) ("val", round(error)) — the last missing
    PromQL aggregation: series counted per distinct (rounded) sample
    value, the value joining the output identity under the given label
    (double→string cast formatting; rounding keeps the cross-engine
    rendering integral and therefore identical)."""
    sf = run_promql(
        spark, sf_dir, 'count_values by (region) ("val", round(error))'
    )
    return sf.df.select(
        F.col("labels")["region"].alias("region"),
        F.col("labels")["val"].alias("val"),
        F.col("ts"),
        F.col("value"),
    )


from time_series_db_spark.catalog import SQL_SERIES_KEY
from time_series_db_spark.model import sql_hash64


@register(
    "promql_limitk",
    f"""{PRELUDE},
    ranked AS (
      SELECT {SQL_LBLS}, ts, value,
             dense_rank() OVER (PARTITION BY region
               ORDER BY md5({SQL_SERIES_KEY}), {SQL_SERIES_KEY}) AS rnk
      FROM samples WHERE name = 'error')
    SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM ranked WHERE rnk <= 2""",
)
def promql_limitk(spark, sf_dir):
    """limitk by (region) (2, error) — Prometheus 3 experimental
    aggregation: 2 series per region, identities untouched, the pick
    deterministic by md5(series_key) (Prometheus leaves it
    implementation-defined)."""
    sf = run_promql(spark, sf_dir, "limitk by (region) (2, error)")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_limit_ratio",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples
    WHERE name = 'error'
      AND ({sql_hash64(SQL_SERIES_KEY, 'lr')} % 1000000) / 1000000.0 < 0.4""",
)
def promql_limit_ratio(spark, sf_dir):
    """limit_ratio(0.4, error) — deterministic ~40% series sample by
    identity hash; limit_ratio(-0.6, v) keeps the exact complement (the
    Prometheus partition contract)."""
    sf = run_promql(spark, sf_dir, "limit_ratio(0.4, error)")
    return _flat(sf, LABEL_KEYS)


# ---------------------------------------------------------------------------
# Prometheus 3.x additions: atan2 operator, label-order sort, experimental
# *_over_time family members
# ---------------------------------------------------------------------------


@register(
    "promql_atan2",
    f"""{PRELUDE},
    e AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'error'),
    c AS (SELECT "user", region, shard, ts, value FROM samples WHERE name = 'click')
    SELECT e."user", e.region, e.shard, e.ts,
           {sql_quant('atan2(e.value, c.value)')} AS value
    FROM e JOIN c USING ("user", region, shard, ts)""",
)
def promql_atan2(spark, sf_dir):
    """error atan2 click — the one keyword arithmetic operator in PromQL
    (Go math.Atan2(l, r), same precedence tier as * / %); vector matching
    and name-dropping behave exactly like the other arithmetic ops."""
    sf = run_promql(spark, sf_dir, "error atan2 click")
    return _flat(sf, ["user", "region", "shard"])


@register(
    "promql_sort_by_label",
    f"""{PRELUDE},
    sids AS (
      SELECT DISTINCT name, "user", region, shard, {SQL_SERIES_KEY} AS skey
      FROM samples WHERE name = 'error'),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY region ASC, "user" ASC, skey ASC) AS rnk
      FROM sids)
    SELECT r.name, r."user", r.region, r.shard, s.ts,
           {sql_quant('s.value')} AS value, r.rnk
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard""",
)
def promql_sort_by_label(spark, sf_dir):
    """sort_by_label(error, "region", "user") — Prometheus 3 experimental:
    series ordered by label VALUES (lexicographic, missing → empty-first),
    tie-broken on the full series key; the rank materializes as __order
    through the same range-partitioned distributed rank as sort()."""
    sf = run_promql(spark, sf_dir, 'sort_by_label(error, "region", "user")')
    return sf.df.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        F.col("ts"),
        quant(F.col("value")).alias("value"),
        F.col("__order").alias("rnk"),
    )


_MAD_SRC = "(SELECT * FROM samples WHERE name = 'view')"


@register(
    "promql_mad_over_time",
    f"""{PRELUDE},
    wins AS (
      SELECT {SQL_LBLS}, ts, list(value) OVER ({_HW_FRAME}) AS l
      FROM {_MAD_SRC}),
    med AS (
      SELECT {SQL_LBLS}, ts, l, list_aggregate(l, 'median') AS m FROM wins)
    SELECT {SQL_LBLS}, ts,
           {sql_quant("list_aggregate(list_transform(l, x -> abs(x - m)), 'median')")} AS value
    FROM med""",
)
def promql_mad_over_time(spark, sf_dir):
    """mad_over_time(view[12h]) — Prometheus 3 experimental: median
    absolute deviation over the trailing window, interpolated medians
    (funcMadOverTime); Spark side is two pure array-expression medians."""
    sf = run_promql(spark, sf_dir, "mad_over_time(view[12h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_ts_of_max",
    f"""{PRELUDE},
    wins AS (
      SELECT {SQL_LBLS}, ts,
             list(struct_pack(v := value, t := ts)) OVER ({_HW_FRAME}) AS l
      FROM (SELECT * FROM samples WHERE name = 'purchase'))
    SELECT {SQL_LBLS}, ts,
           {sql_quant("list_max(list_transform(list_filter(l, x -> x.v = list_max(list_transform(l, y -> y.v))), x -> x.t)) / 1000.0")} AS value
    FROM wins""",
)
def promql_ts_of_max(spark, sf_dir):
    """ts_of_max_over_time(purchase[12h]) — Prometheus 3.5 experimental:
    timestamp (epoch seconds) of the window's maximum sample, ties → the
    LATEST sample (the >= update rule in funcTsOfMaxOverTime); a pure
    max_by(ts, struct(value, ts)) window aggregate."""
    sf = run_promql(spark, sf_dir, "ts_of_max_over_time(purchase[12h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_count_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'CAST(count(value) OVER ({_FRAME}) AS DOUBLE)')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_count_over_time(spark, sf_dir):
    """count_over_time(v[3h]) — FunctionType.COUNT_OVER_TIME (previously
    only fuzz-covered; the grammar fuzz found its window detached)."""
    sf = run_promql(spark, sf_dir, "count_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_stddev_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(
               f'sqrt(greatest(avg(value * value) OVER ({_FRAME})'
               f' - avg(value) OVER ({_FRAME}) * avg(value) OVER ({_FRAME}), 0.0))'
           )} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_stddev_over_time(spark, sf_dir):
    """stddev_over_time(v[3h]): population stddev over the trailing
    window — FunctionType.STDDEV_OVER_TIME."""
    sf = run_promql(spark, sf_dir, "stddev_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_last_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'last_value(value) OVER ({_FRAME})')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_last_over_time(spark, sf_dir):
    """last_over_time(v[3h]) — FunctionType.LAST_OVER_TIME."""
    sf = run_promql(spark, sf_dir, "last_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_sum_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'sum(value) OVER ({_FRAME})')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_sum_over_time(spark, sf_dir):
    """sum_over_time(v[3h]) — FunctionType.SUM_OVER_TIME."""
    sf = run_promql(spark, sf_dir, "sum_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_minmax_over_time",
    f"""{PRELUDE}
    SELECT NULL::VARCHAR AS name, "user", region, shard, ts,
           {sql_quant(f'max(value) OVER ({_FRAME})'
                      f' - min(value) OVER ({_FRAME})')} AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_minmax_over_time(spark, sf_dir):
    """max_over_time − min_over_time composed through a binary op: one
    entry covering both window aggs AND their arithmetic join."""
    sf = run_promql(
        spark, sf_dir, "max_over_time(view[3h]) - min_over_time(view[3h])"
    )
    return _flat(sf, LABEL_KEYS)


@register(
    "promql_present_over_time",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts, 1.0::DOUBLE AS value
    FROM (SELECT * FROM samples WHERE name = 'view')""",
)
def promql_present_over_time(spark, sf_dir):
    """present_over_time(v[3h]): 1 wherever any sample exists in the
    window — on the engine's dense grid every emitted instant has one."""
    sf = run_promql(spark, sf_dir, "present_over_time(view[3h])")
    return _flat(sf, LABEL_KEYS)
