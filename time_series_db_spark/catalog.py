"""Query catalog: named (Spark query, DuckDB oracle) pairs per operator.

This is the engine's differential-test surface (SURVEY.md §5 layer 4):
every operator from the §2 inventory appears as a callable
``(spark, sf_dir) -> DataFrame`` plus an ANSI-SQL oracle producing the
identical result on the same parquet tables. ``__spark_entry__.py``
re-exports it for the driver; ``tests/test_parity.py`` runs the same
comparison locally at sf0.001.

Determinism rules (shared by both sides):
- output values quantized via :data:`QUANT` — floor(v·1e4 + 0.5)/1e4 in
  pure IEEE double ops, bit-identical across engines, passing NaN/±Inf and
  magnitudes ≥1e12 through untouched;
- any top-k / rank selection breaks ties on the canonical series key;
- "last write wins" is ordered by event_id (ingest order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_db_spark.model import SeriesFrame
from time_series_db_spark.operators import (
    binary,
    filters,
    grouping,
    labels as labels_ops,
    mappers,
    ordering,
    windows,
)
from time_series_db_spark.sources import (
    DEFAULT_STEP_MS,
    EVENTS_MAX_TS,
    EVENTS_MIN_TS,
    fetch_events,
    oracle_samples_cte,
)

LABEL_KEYS = ["name", "user", "region", "shard"]

# ---------------------------------------------------------------------------
# quantization — see module docstring
# ---------------------------------------------------------------------------


def quant(col: Column) -> Column:
    return F.when(
        F.isnan(col) | (F.abs(col) >= F.lit(1e12)), col
    ).otherwise(F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000))


def sql_quant(expr: str) -> str:
    e = f"({expr})"
    return (
        f"CASE WHEN isnan({e}) OR abs({e}) >= 1e12 THEN {e} "
        f"ELSE floor({e} * 10000.0 + 0.5) / 10000 END"
    )


#: canonical series key in SQL — keys sorted alphabetically, matching
#: model.series_key_expr over the events label map
SQL_SERIES_KEY = (
    "'name:' || name || ',region:' || region || ',shard:' || shard "
    "|| ',user:' || \"user\""
)

_GRID_MAX = EVENTS_MAX_TS - DEFAULT_STEP_MS

PRELUDE = "WITH " + oracle_samples_cte()

DENSE_CTES = f""",
grid AS (
  SELECT gs AS ts FROM generate_series({EVENTS_MIN_TS}, {_GRID_MAX}, {DEFAULT_STEP_MS}) t(gs)
),
sids AS (SELECT DISTINCT name, "user", region, shard FROM samples),
dense AS (
  SELECT s.name, s."user", s.region, s.shard, g.ts, v.value
  FROM sids s
  CROSS JOIN grid g
  LEFT JOIN samples v
    ON v.name = s.name AND v."user" = s."user" AND v.region = s.region
   AND v.shard = s.shard AND v.ts = g.ts
)"""

SQL_LBLS = 'name, "user", region, shard'


def _out(sf: SeriesFrame, keys: list[str] | None = None, extra: list[Column] = ()) -> DataFrame:
    """Flatten a SeriesFrame for oracle comparison: label columns + ts +
    quantized value (+ extras)."""
    keys = LABEL_KEYS if keys is None else keys
    cols = [F.col("labels")[k].alias(k) for k in keys]
    cols += [F.col("ts"), quant(F.col("value")).alias("value")]
    cols += list(extra)
    return sf.df.select(*cols)


QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Catalog registration. Each entry point scopes the cache registry
    to its own name and, before building, releases the tracked caches
    (binary-probe / rank / fallback / minhash persists — see
    time_series_db_spark.cache) of the queries outside the cache's warm
    window: the prior results have been materialized by the caller by
    the time the next query is requested, so a long-running driver
    session holds at most ``cache.WARM_SCOPES`` queries' caches — while
    re-running a recent query keeps its persists warm (identical plans
    rehydrate from CacheManager)."""

    def deco(fn: QueryFn):
        import functools

        # fail at import, not at driver time: a helper def slipping
        # between this decorator and its intended function silently
        # unregisters the entry (seen once in r10, caught by bench)
        if fn.__name__ != name:
            raise TypeError(
                f"@register({name!r}) applied to function "
                f"{fn.__name__!r} — a stray def between the decorator "
                "and its entry?"
            )
        if name in QUERIES:
            raise TypeError(f"duplicate catalog entry {name!r}")

        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            from time_series_db_spark import cache

            cache.set_scope(name)
            cache.release_others()
            try:
                return fn(spark, sf_dir)
            finally:
                # the caller stays in the entry's scope, but a response
                # it collects later is not memoised on this build's
                # listings
                cache.forget_noted()

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _fetch(spark, sf_dir, **kw) -> SeriesFrame:
    return fetch_events(spark, sf_dir, **kw)


# ---------------------------------------------------------------------------
# fetch / scan
# ---------------------------------------------------------------------------

@register(
    "m3_fetch",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_fetch(spark, sf_dir):
    """fetch — tag-filtered scan + grid alignment (SourceBuilderVisitor
    .java:911-940; alignment TimeSeriesUnfoldAggregator.java:305-320)."""
    return _out(_fetch(spark, sf_dir))


@register(
    "m3_exposition_roundtrip",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_exposition_roundtrip(spark, sf_dir):
    """Prometheus/OpenMetrics text-exposition source + sink
    (sources/exposition.py): fetch → render exposition lines → parse
    back. The oracle is the PLAIN fetch — the round trip must be the
    identity, so any formatting, escaping, or parsing divergence
    surfaces as a differential mismatch (adversarial label values are
    covered by the property test; this pins the wire format end-to-end
    on real data)."""
    from time_series_db_spark.sources.exposition import (
        format_exposition,
        parse_exposition,
    )

    sf = _fetch(spark, sf_dir)
    parsed = parse_exposition(format_exposition(sf))
    return _out(sf.with_df(parsed.withColumn("alias", F.lit(None).cast("string"))))


@register(
    "m3_graphite_roundtrip",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_graphite_roundtrip(spark, sf_dir):
    """Graphite plaintext (carbon, tagged) source + sink
    (sources/graphite.py): fetch → ``path;tags value ts_s`` lines →
    parse back. Oracle = the plain fetch: the round trip (strict
    representability validation, s↔ms timestamps, canonical tag order)
    must be the identity on second-aligned data."""
    from time_series_db_spark.sources.graphite import (
        format_graphite,
        parse_graphite,
    )

    sf = _fetch(spark, sf_dir)
    parsed = parse_graphite(format_graphite(sf.df))
    return _out(sf.with_df(parsed.withColumn("alias", F.lit(None).cast("string"))))


@register(
    "m3_line_protocol_roundtrip",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_line_protocol_roundtrip(spark, sf_dir):
    """InfluxDB line-protocol source + sink (sources/lineprotocol.py):
    fetch → render ``measurement,tags value=… <ns>`` lines → parse back.
    Oracle = the plain fetch: the round trip (incl. ms→ns→ms timestamps,
    tag escaping, field-name mapping) must be the identity."""
    from time_series_db_spark.sources.lineprotocol import (
        format_line_protocol,
        parse_line_protocol,
    )

    sf = _fetch(spark, sf_dir)
    parsed = parse_line_protocol(format_line_protocol(sf.df))
    return _out(sf.with_df(parsed.withColumn("alias", F.lit(None).cast("string"))))


@register(
    "m3_fetch_filtered",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE name IN ('error', 'click') AND region <> 'r3'""",
)
def m3_fetch_filtered(spark, sf_dir):
    """fetch with label predicates incl. negation (``!k3:x``) and brace
    interpolation ``{a,b}`` → IN-list + inequality pushed to the scan."""
    sf = _fetch(spark, sf_dir, where=(
        F.col("name").isin("error", "click") & (F.col("region") != "r3")
    ))
    return _out(sf)


#: federation window boundaries (step-aligned): partition A reads the
#: first 20 days, partition B the last 20 — the middle 10 days overlap
_FED_T1 = EVENTS_MIN_TS + 10 * 86_400_000
_FED_T2 = EVENTS_MIN_TS + 20 * 86_400_000


@register(
    "m3_federated_fetch",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_federated_fetch(spark, sf_dir):
    """Resolved-partitions fetch with OVERLAPPING windows
    (query/rest/ResolvedPartitions.java; overlap rule SourceBuilderVisitor
    .java:1049-1051): two partitions over the same table, windows
    [min, t2) and [t1, max) overlapping for 10 days — the per-(series,
    grid point) dedup must reproduce exactly the single-table scan,
    which is the oracle (mirrors multi_index_overlapping_windows_rest_it
    .yaml)."""
    from time_series_db_spark.sources.federation import Partition, federated_fetch

    sf = federated_fetch(spark, [
        Partition(sf_dir, EVENTS_MIN_TS, _FED_T2, "old:events"),
        Partition(sf_dir, _FED_T1, EVENTS_MAX_TS, "new:events"),
    ])
    return _out(sf)


@register(
    "m3_federated_windows",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE ts < {_FED_T1} OR ts >= {_FED_T2}""",
)
def m3_federated_windows(spark, sf_dir):
    """Resolved-partitions fetch with DISJOINT windows leaving a gap:
    partition windows [min, t1) and [t2, max) — only samples inside a
    resolved window are read (per-partition scan pruning), so the
    middle 10 days are absent from the result."""
    from time_series_db_spark.sources.federation import Partition, federated_fetch

    sf = federated_fetch(spark, [
        Partition(sf_dir, EVENTS_MIN_TS, _FED_T1, ":events"),
        Partition(sf_dir, _FED_T2, EVENTS_MAX_TS, "events"),
    ])
    return _out(sf)


@register(
    "m3ql_federated_sum",
    f"""{PRELUDE}
    SELECT region, ts, {sql_quant('sum(value)')} AS value
    FROM samples WHERE name = 'error' GROUP BY region, ts""",
)
def m3ql_federated_sum(spark, sf_dir):
    """Full M3QL text query over a FederatedEventsSource (overlapping
    partitions): the language front-end is source-agnostic, so
    federation composes with every stage."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.sources.federation import (
        FederatedEventsSource,
        Partition,
    )

    source = FederatedEventsSource(spark, [
        Partition(sf_dir, EVENTS_MIN_TS, _FED_T2, "old:events"),
        Partition(sf_dir, _FED_T1, EVENTS_MAX_TS, "new:events"),
    ])
    sf = execute(
        "fetch name:error | sum region",
        source, EVENTS_MIN_TS, EVENTS_MAX_TS, DEFAULT_STEP_MS,
    )
    return sf.df.select(
        F.col("labels")["region"].alias("region"),
        F.col("ts"),
        quant(F.col("value")).alias("value"),
    )


# ---------------------------------------------------------------------------
# mapper stages
# ---------------------------------------------------------------------------

def _mapper_oracle(expr: str) -> str:
    return f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant(expr)} AS value FROM samples"


@register("m3_abs", _mapper_oracle("abs(value - 100.0)"))
def m3_abs(spark, sf_dir):
    return _out(mappers.abs_(mappers.offset(_fetch(spark, sf_dir), -100.0)))


@register(
    "m3_logarithm",
    _mapper_oracle(
        "CASE WHEN value > 0 THEN log10(value) WHEN value = 0 THEN -1e308*10 "
        "ELSE 'NaN'::DOUBLE END"
    ),
)
def m3_logarithm(spark, sf_dir):
    return _out(mappers.logarithm(_fetch(spark, sf_dir)))


@register("m3_sqrt", _mapper_oracle("CASE WHEN value - 100.0 < 0 THEN 'NaN'::DOUBLE ELSE sqrt(value - 100.0) END"))
def m3_sqrt(spark, sf_dir):
    return _out(mappers.sqrt(mappers.offset(_fetch(spark, sf_dir), -100.0)))


@register("m3_scale", _mapper_oracle("value * 2.5"))
def m3_scale(spark, sf_dir):
    return _out(mappers.scale(_fetch(spark, sf_dir), 2.5))


@register("m3_divide_scalar", _mapper_oracle("value / 4.0"))
def m3_divide_scalar(spark, sf_dir):
    return _out(mappers.divide_scalar(_fetch(spark, sf_dir), 4.0))


@register("m3_offset", _mapper_oracle("value + 100.0"))
def m3_offset(spark, sf_dir):
    return _out(mappers.offset(_fetch(spark, sf_dir), 100.0))


@register("m3_round", _mapper_oracle("round(value, 3)"))
def m3_round(spark, sf_dir):
    """round to 3 decimals on 2-decimal data — exercises the stage plumbing
    without landing on cross-engine half-tie boundaries."""
    return _out(mappers.round_(_fetch(spark, sf_dir), 3))


@register(
    "m3_scale_to_seconds",
    _mapper_oracle(f"value * (60.0 * 1000.0 / {DEFAULT_STEP_MS})"),
)
def m3_scale_to_seconds(spark, sf_dir):
    return _out(mappers.scale_to_seconds(_fetch(spark, sf_dir), 60))


@register(
    "m3_timeshift",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts + 86400000 AS ts, {sql_quant('value')} AS value FROM samples",
)
def m3_timeshift(spark, sf_dir):
    return _out(mappers.timeshift(_fetch(spark, sf_dir), 86_400_000))


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------

@register(
    "m3_value_filter_eq",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE abs(value - 4.29) < 1e-9""",
)
def m3_value_filter_eq(spark, sf_dir):
    """eq with FP tolerance — ValueFilterStage.java:59 (javadoc :1-18:
    equality uses a relative-epsilon compare, not bitwise ==)."""
    return _out(filters.value_filter(_fetch(spark, sf_dir), "eq", 4.29))


@register(
    "m3_value_filter_ne",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE NOT (abs(value - 4.29) < 1e-9)""",
)
def m3_value_filter_ne(spark, sf_dir):
    """ne — the negated tolerant equality (surface names Constants.java:337-402)."""
    return _out(filters.value_filter(_fetch(spark, sf_dir), "ne", 4.29))


@register(
    "m3_value_filter_ge",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples WHERE value >= 100.0",
)
def m3_value_filter_ge(spark, sf_dir):
    return _out(filters.value_filter(_fetch(spark, sf_dir), "ge", 100.0))


@register(
    "m3_value_filter_lt",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples WHERE value < 50.0",
)
def m3_value_filter_lt(spark, sf_dir):
    return _out(filters.value_filter(_fetch(spark, sf_dir), "lt", 50.0))


@register(
    "m3_where",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples WHERE region = shard",
)
def m3_where(spark, sf_dir):
    """where tagA eq tagB — WhereStage.java:35 (region==shard ⇔ user%4 ∈ {0,1})."""
    return _out(filters.where(_fetch(spark, sf_dir), "region", "shard"))


@register(
    "m3_tag_compare",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples WHERE region > 'r1'",
)
def m3_tag_compare(spark, sf_dir):
    return _out(filters.tag_compare(_fetch(spark, sf_dir), "region", "gt", "r1"))


@register(
    "m3_exclude_by_tag",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples "
    "WHERE NOT regexp_matches(region, 'r[02]')",
)
def m3_exclude_by_tag(spark, sf_dir):
    return _out(filters.exclude_by_tag(_fetch(spark, sf_dir), "region", ["r[02]"]))


@register(
    "m3_remove_empty",
    f"""{PRELUDE},
    mapped AS (
      SELECT {SQL_LBLS}, ts,
             CASE WHEN value - 550.0 < 0 THEN 'NaN'::DOUBLE ELSE sqrt(value - 550.0) END AS value
      FROM samples
    ),
    keep AS (
      SELECT {SQL_LBLS} FROM mapped GROUP BY 1,2,3,4
      HAVING max(CASE WHEN NOT isnan(value) THEN 1 ELSE 0 END) = 1
    )
    SELECT m.name, m."user", m.region, m.shard, m.ts, {sql_quant('m.value')} AS value
    FROM mapped m JOIN keep k
      ON m.name=k.name AND m."user"=k."user" AND m.region=k.region AND m.shard=k.shard""",
)
def m3_remove_empty(spark, sf_dir):
    """removeEmpty after a NaN-producing map: series whose samples are all
    NaN vanish — RemoveEmptyStage.java:33."""
    sf = mappers.sqrt(mappers.offset(_fetch(spark, sf_dir), -550.0))
    return _out(filters.remove_empty(sf))


# ---------------------------------------------------------------------------
# grouping aggregations
# ---------------------------------------------------------------------------

def _group_oracle(agg: str, keys: list[str]) -> str:
    sel = ", ".join(f'"{k}"' if k == "user" else k for k in keys)
    byn = ", ".join(str(i + 1) for i in range(len(keys) + 1))
    return (
        f"{PRELUDE} SELECT {sel}{', ' if sel else ''}ts, {sql_quant(agg)} AS value "
        f"FROM samples GROUP BY {byn}"
    )


@register("m3_sum_by", _group_oracle("CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)", ["name"]))
def m3_sum_by(spark, sf_dir):
    return _out(grouping.sum_(_fetch(spark, sf_dir), ["name"], exact=True), ["name"])


@register("m3_sum_global", _group_oracle("CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)", []))
def m3_sum_global(spark, sf_dir):
    return _out(grouping.sum_(_fetch(spark, sf_dir), [], exact=True), [])


@register("m3_avg_by", _group_oracle("(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / count(value))", ["region"]))
def m3_avg_by(spark, sf_dir):
    return _out(grouping.avg(_fetch(spark, sf_dir), ["region"], exact=True), ["region"])


@register("m3_min_by", _group_oracle("min(value)", ["name"]))
def m3_min_by(spark, sf_dir):
    return _out(grouping.min_(_fetch(spark, sf_dir), ["name"]), ["name"])


@register("m3_max_by", _group_oracle("max(value)", ["region"]))
def m3_max_by(spark, sf_dir):
    return _out(grouping.max_(_fetch(spark, sf_dir), ["region"]), ["region"])


@register(
    "m3_count_by",
    f"""{PRELUDE},
    gc AS (
      SELECT name,
             CAST(count(DISTINCT "user" || '|' || region || '|' || shard) AS DOUBLE) AS value
      FROM samples GROUP BY name),
    grid AS (
      SELECT gs AS ts
      FROM generate_series({EVENTS_MIN_TS}, {_GRID_MAX}, {DEFAULT_STEP_MS}) t(gs))
    SELECT gc.name, g.ts, gc.value FROM gc CROSS JOIN grid g""",
)
def m3_count_by(spark, sf_dir):
    """M3 count: number of SERIES per group, dense over the grid
    (CountStage.processGroup buildDenseSamples) — NOT a per-timestamp
    presence count (that is PromQL count → grouping.count_at_ts)."""
    return _out(grouping.count(_fetch(spark, sf_dir), ["name"]), ["name"])


@register("m3_range_by", _group_oracle("max(value) - min(value)", ["name"]))
def m3_range_by(spark, sf_dir):
    return _out(grouping.range_(_fetch(spark, sf_dir), ["name"]), ["name"])


@register(
    "m3_multiply_by",
    f"""{PRELUDE},
    scaled AS (SELECT {SQL_LBLS}, ts, value * (1.0 / 600.0) + 0.5 AS value FROM samples)
    SELECT region, ts,
           {sql_quant("list_aggregate(list_sort(list(value)), 'product')")} AS value
    FROM scaled GROUP BY 1, 2""",
)
def m3_multiply_by(spark, sf_dir):
    sf = mappers.offset(mappers.scale(_fetch(spark, sf_dir), 1.0 / 600.0), 0.5)
    return _out(grouping.multiply(sf, ["region"]), ["region"])


@register(
    "m3_percentile_of_series",
    f"""{PRELUDE},
    lsts AS (SELECT name, ts, list(value ORDER BY value) AS l
             FROM samples GROUP BY 1, 2)
    SELECT name, p AS __percentile, ts,
           {sql_quant('l[greatest(1, CAST(ceil(pct * len(l)) AS INT))]')} AS value
    FROM lsts CROSS JOIN (VALUES ('50', 0.50), ('95', 0.95)) pcts(p, pct)""",
)
def m3_percentile_of_series(spark, sf_dir):
    """M3 nearest-rank percentile (PercentileUtils.calculatePercentile,
    no interpolation): sorted[max(1, ceil(p/100·n))], output tagged
    ``__percentile`` with whole-number formatting."""
    sf = grouping.percentile_of_series(_fetch(spark, sf_dir), [50.0, 95.0], ["name"])
    return _out(sf, ["name", "__percentile"])


@register(
    "m3_percentile_of_series_windowed",
    f"""{PRELUDE},
    lsts AS (SELECT name, ts, list(value ORDER BY value) AS l
             FROM samples GROUP BY 1, 2)
    SELECT name, p AS __percentile, ts,
           {sql_quant('l[greatest(1, CAST(ceil(pct * len(l)) AS INT))]')} AS value
    FROM lsts CROSS JOIN (VALUES ('50', 0.50), ('95', 0.95)) pcts(p, pct)""",
)
def m3_percentile_of_series_windowed(spark, sf_dir):
    """Spill-safe percentile variant: same oracle as the array path —
    rank-window selection instead of collect_list, for groups too large
    to hold as one in-memory array (grouping.py docstring)."""
    sf = grouping.percentile_of_series_windowed(
        _fetch(spark, sf_dir), [50.0, 95.0], ["name"]
    )
    return _out(sf, ["name", "__percentile"])


# ---------------------------------------------------------------------------
# window / sequential stages
# ---------------------------------------------------------------------------

_W = f'PARTITION BY {SQL_LBLS} ORDER BY ts'


@register(
    "m3_derivative",
    f"""{PRELUDE},
    lagged AS (
      SELECT {SQL_LBLS}, ts, value,
             lag(value) OVER ({_W}) AS pv, lag(ts) OVER ({_W}) AS pts
      FROM samples)
    SELECT {SQL_LBLS}, ts, {sql_quant('value - pv')} AS value
    FROM lagged WHERE pts IS NOT NULL AND ts - pts = {DEFAULT_STEP_MS}""",
)
def m3_derivative(spark, sf_dir):
    return _out(windows.derivative(_fetch(spark, sf_dir)))


@register(
    "m3_per_second",
    f"""{PRELUDE},
    lagged AS (
      SELECT {SQL_LBLS}, ts, value,
             lag(value) OVER ({_W}) AS pv, lag(ts) OVER ({_W}) AS pts
      FROM samples)
    SELECT {SQL_LBLS}, ts, {sql_quant('(value - pv) / ((ts - pts) / 1000.0)')} AS value
    FROM lagged WHERE pts IS NOT NULL AND NOT (value - pv < 0)""",
)
def m3_per_second(spark, sf_dir):
    """Negative diffs are counter resets → no sample
    (PerSecondStage.java:80-83)."""
    return _out(windows.per_second(_fetch(spark, sf_dir)))


@register(
    "m3_integral",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts,
           {sql_quant('sum(value) OVER (' + _W + ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS value
    FROM samples""",
)
def m3_integral(spark, sf_dir):
    return _out(windows.integral(_fetch(spark, sf_dir)))


@register(
    "m3_integral_reset",
    f"""{PRELUDE},
    gaps AS (
      SELECT {SQL_LBLS}, ts, value,
             CASE WHEN lag(ts) OVER ({_W}) IS NOT NULL
                   AND ts - lag(ts) OVER ({_W}) > {DEFAULT_STEP_MS}
                  THEN 1 ELSE 0 END AS gap
      FROM samples),
    segs AS (
      SELECT *, sum(gap) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      FROM gaps)
    SELECT {SQL_LBLS}, ts,
           {sql_quant('sum(value) OVER (PARTITION BY ' + SQL_LBLS + ', seg ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS value
    FROM segs""",
)
def m3_integral_reset(spark, sf_dir):
    return _out(windows.integral(_fetch(spark, sf_dir), reset_on_gap=True))


@register(
    "m3_changed",
    f"""{PRELUDE}{DENSE_CTES},
    prevs AS (
      SELECT {SQL_LBLS}, ts, value,
             last_value(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                             THEN value END IGNORE NULLS)
               OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM dense)
    SELECT {SQL_LBLS}, ts,
           CASE WHEN value IS NULL OR isnan(value) THEN 0.0::DOUBLE
                WHEN prev IS NULL THEN 0.0::DOUBLE
                WHEN value <> prev THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS value
    FROM prevs""",
)
def m3_changed(spark, sf_dir):
    """Dense 0/1: missing/NaN grid points emit 0; present points compare
    against the last non-null value at ANY earlier grid point
    (ChangedStage.java:71-110)."""
    return _out(windows.changed(_fetch(spark, sf_dir)))


@register(
    "m3_transform_null",
    f"""{PRELUDE}{DENSE_CTES}
    SELECT {SQL_LBLS}, ts, {sql_quant('COALESCE(value, 0.0)')} AS value FROM dense""",
)
def m3_transform_null(spark, sf_dir):
    return _out(windows.transform_null(_fetch(spark, sf_dir), 0.0))


@register(
    "m3_is_non_null",
    f"""{PRELUDE}{DENSE_CTES}
    SELECT {SQL_LBLS}, ts,
           (CASE WHEN value IS NULL THEN 0.0 ELSE 1.0 END)::DOUBLE AS value
    FROM dense""",
)
def m3_is_non_null(spark, sf_dir):
    return _out(windows.is_non_null(_fetch(spark, sf_dir)))


@register(
    "m3_keep_last_value",
    f"""{PRELUDE}{DENSE_CTES},
    filled AS (
      SELECT {SQL_LBLS}, ts, value,
             last_value(value IGNORE NULLS)
               OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill,
             last_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
               OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_ts
      FROM dense)
    SELECT {SQL_LBLS}, ts, {sql_quant('fill')} AS value
    FROM filled WHERE fill IS NOT NULL AND ts - fill_ts <= 7200000""",
)
def m3_keep_last_value(spark, sf_dir):
    return _out(windows.keep_last_value(_fetch(spark, sf_dir), lookback_ms=7_200_000))


@register(
    "m3_sustain",
    f"""{PRELUDE}{DENSE_CTES},
    runs AS (
      SELECT {SQL_LBLS}, ts, value,
             COALESCE(last_value(CASE WHEN value IS NULL THEN ts END IGNORE NULLS)
               OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + {DEFAULT_STEP_MS},
               {EVENTS_MIN_TS}) AS run_start
      FROM dense)
    SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM runs WHERE value IS NOT NULL AND ts - run_start + {DEFAULT_STEP_MS} >= 10800000""",
)
def m3_sustain(spark, sf_dir):
    return _out(windows.sustain(_fetch(spark, sf_dir), 10_800_000))


#: the 3-step window covers the 3 dense grid slots strictly before the
#: current point — MovingStage's evaluate-then-update loop ([t−w, t),
#: current excluded), emitted wherever the window holds ≥1 sample
_MOVING_FRAME = f"{_W} ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING"


def _moving_oracle(agg: str) -> str:
    return f"""{PRELUDE}{DENSE_CTES},
    win AS (
      SELECT {SQL_LBLS}, ts,
             {sql_quant(f'{agg} OVER ({_MOVING_FRAME})')} AS mv,
             count(value) OVER ({_MOVING_FRAME}) AS c
      FROM dense)
    SELECT {SQL_LBLS}, ts, mv AS value FROM win WHERE c > 0"""


@register("m3_moving_sum", _moving_oracle("sum(value)"))
def m3_moving_sum(spark, sf_dir):
    return _out(windows.moving(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, "sum"))


@register("m3_moving_avg", _moving_oracle("avg(value)"))
def m3_moving_avg(spark, sf_dir):
    return _out(windows.moving(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, "avg"))


@register("m3_moving_min", _moving_oracle("min(value)"))
def m3_moving_min(spark, sf_dir):
    return _out(windows.moving(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, "min"))


@register("m3_moving_max", _moving_oracle("max(value)"))
def m3_moving_max(spark, sf_dir):
    return _out(windows.moving(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, "max"))


@register("m3_moving_median", _moving_oracle("quantile_cont(value, 0.5)"))
def m3_moving_median(spark, sf_dir):
    return _out(windows.moving(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, "median"))


@register(
    "m3_moving_percentile", _moving_oracle("quantile_cont(value, 0.95)")
)
def m3_moving_percentile(spark, sf_dir):
    """Trailing-window p95 (operators/windows.py:moving_percentile,
    M3QL fn `movingPercentile 3h 95`): the latency-dashboard staple —
    the arbitrary-φ generalization of `moving … median`, reusing its
    scatter/dense dual formulation and window contract unchanged."""
    return _out(
        windows.moving_percentile(
            _fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS, 95.0
        )
    )


@register(
    "m3_summarize",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts - (ts % 86400000) AS ts, {sql_quant('sum(value)')} AS value
    FROM samples GROUP BY 1, 2, 3, 4, 5""",
)
def m3_summarize(spark, sf_dir):
    return _out(windows.summarize(_fetch(spark, sf_dir), 86_400_000, "sum"))


@register(
    "m3_summarize_last",
    f"""{PRELUDE}
    SELECT {SQL_LBLS}, ts - (ts % 86400000) AS ts, {sql_quant('arg_max(value, ts)')} AS value
    FROM samples GROUP BY 1, 2, 3, 4, 5""",
)
def m3_summarize_last(spark, sf_dir):
    return _out(windows.summarize(_fetch(spark, sf_dir), 86_400_000, "last"))


@register(
    "m3_decimate_minmax",
    f"""{PRELUDE},
    ranked AS (
      SELECT {SQL_LBLS}, ts, value,
             row_number() OVER (
               PARTITION BY {SQL_LBLS}, ts - ts % 7200000
               ORDER BY value ASC, ts ASC) AS rlo,
             row_number() OVER (
               PARTITION BY {SQL_LBLS}, ts - ts % 7200000
               ORDER BY value DESC, ts ASC) AS rhi
      FROM samples)
    SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM ranked WHERE rlo = 1 OR rhi = 1""",
)
def m3_decimate_minmax(spark, sf_dir):
    """Min-max rendering decimation (operators/windows.py:decimate):
    per series and 2h bucket, keep exactly the extreme samples — ties
    resolve to the earliest timestamp on both engines, so the SELECTION
    (not just the values) is differentially pinned."""
    return _out(windows.decimate(_fetch(spark, sf_dir), 7_200_000))


_LTTB_B = 7_200_000


def sql_lttb_ctes(where: str = "value IS NOT NULL") -> str:
    """The parallel-LTTB selection replay as a CTE chain (bucket means
    via exact-decimal range-frame windows, triangle argmax, endpoint
    rules) — shared by the operator entry and the language-path entry."""
    return f"""
    dbk AS (SELECT {SQL_LBLS}, ts, value, ts - ts % {_LTTB_B} AS b
            FROM samples WHERE {where}),
    dnb AS (
      SELECT *,
        CAST(sum(CAST(value AS DECIMAL(27,6))) OVER prevw AS DOUBLE)
          / count(value) OVER prevw AS pv,
        CAST(sum(ts) OVER prevw AS DOUBLE) / count(ts) OVER prevw AS pt,
        CAST(sum(CAST(value AS DECIMAL(27,6))) OVER nextw AS DOUBLE)
          / count(value) OVER nextw AS nv,
        CAST(sum(ts) OVER nextw AS DOUBLE) / count(ts) OVER nextw AS nt
      FROM dbk
      WINDOW prevw AS (PARTITION BY {SQL_LBLS} ORDER BY b
               RANGE BETWEEN {_LTTB_B} PRECEDING AND {_LTTB_B} PRECEDING),
             nextw AS (PARTITION BY {SQL_LBLS} ORDER BY b
               RANGE BETWEEN {_LTTB_B} FOLLOWING AND {_LTTB_B} FOLLOWING)),
    dar AS (
      SELECT *, abs((pt - nt) * (value - nv) - (pv - nv) * (ts - nt)) AS area
      FROM dnb),
    dpk AS (
      SELECT *, row_number() OVER (
        PARTITION BY {SQL_LBLS}, b
        ORDER BY
          CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN -area ELSE 0.0 END ASC,
          CASE WHEN nv IS NULL AND pv IS NOT NULL
               THEN -ts ELSE ts END ASC) AS rn
      FROM dar)
    SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM dpk WHERE rn = 1"""


@register(
    "m3_decimate_lttb",
    f"{PRELUDE},{sql_lttb_ctes()}",
)
def m3_decimate_lttb(spark, sf_dir):
    """Parallel largest-triangle decimation (operators/windows.py:
    decimate_lttb): per series and 2h bucket keep the sample forming
    the largest triangle with the neighbor buckets' mean points
    (bucket-independent LTTB — the scalable formulation); first/last
    buckets keep the endpoints.  Exact-decimal bucket means and the
    earliest-ts tiebreak pin the SELECTION across engines."""
    return _out(windows.decimate_lttb(_fetch(spark, sf_dir), _LTTB_B))


_SEAS_SQL = f""",
    sphase AS (
      SELECT {SQL_LBLS}, ts, value,
             CAST(sum(CAST(value AS DECIMAL(27,6))) OVER ph AS DOUBLE)
               / count(value) OVER ph AS sm
      FROM samples
      WINDOW ph AS (PARTITION BY {SQL_LBLS},
                    (ts % 86400000) - (ts % 3600000)))"""


@register(
    "m3_seasonal_residual",
    f"""{PRELUDE}{_SEAS_SQL}
    SELECT {SQL_LBLS}, ts, {sql_quant('value - sm')} AS value
    FROM sphase""",
)
def m3_seasonal_residual(spark, sf_dir):
    """Seasonal-naive decomposition (operators/windows.py:
    seasonal_adjust): value minus the series' same-hour-of-day mean —
    the diurnal-profile residual that feeds seasonality-aware anomaly
    detection.  Exact-decimal profile means pin the values across
    engines; one unbounded (series, phase) window aggregate."""
    return _out(windows.seasonal_adjust(_fetch(spark, sf_dir)))


@register(
    "m3_seasonal_anomalies",
    f"""{PRELUDE}{_SEAS_SQL},
    sres AS (SELECT {SQL_LBLS}, ts, value - sm AS r FROM sphase),
    sstat AS (
      SELECT *, avg(r) OVER sw AS mu, stddev_pop(r) OVER sw AS sd
      FROM sres
      WINDOW sw AS (PARTITION BY {SQL_LBLS}))
    SELECT {SQL_LBLS}, ts,
           CASE WHEN sd > 0 AND abs(r - mu) > 3.0 * sd
                THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS value
    FROM sstat""",
)
def m3_seasonal_anomalies(spark, sf_dir):
    """Seasonality-aware anomaly flags: the composition
    ``anomalies(seasonal_adjust(fetch))`` — z-score outliers on the
    diurnal-profile residual, so a spike that is normal for its
    hour-of-day stops flagging.  Two window aggregates over the same
    per-series partitioning; the flag is a pure row expression."""
    return _out(
        windows.anomalies(windows.seasonal_adjust(_fetch(spark, sf_dir)))
    )


_CUSUM_FIN = "CASE WHEN NOT isnan(value) THEN value END"


def sql_cusum_ctes(
    threshold: float, slack: float = 0.5, where: str = "TRUE"
) -> str:
    """The CUSUM closed-form replay as a CTE chain (exact-decimal
    prefix sums, running mins, two-sided flags) — shared by the
    operator entry and the language-path entry.  σ mirrors the
    operator's anchored form: exact-decimal squared DEVIATIONS from
    the engine-identical mean (√(Σ(x−μ)²/n), squares at
    DECIMAL(38,12)), not raw moments — the √(Σx²/n − μ²) form cancels
    catastrophically for large-mean/small-spread series."""
    dev = "CASE WHEN NOT isnan(value) THEN value - mu END"
    return f"""
    cst AS (
      SELECT {SQL_LBLS}, ts, value,
             CAST(sum(CAST({_CUSUM_FIN} AS DECIMAL(27,6))) OVER fw
                  AS DOUBLE) / count({_CUSUM_FIN}) OVER fw AS mu,
             CAST(sum(CAST({_CUSUM_FIN} AS DECIMAL(27,6))) OVER rw
                  AS DOUBLE) AS c,
             count({_CUSUM_FIN}) OVER rw::DOUBLE AS n
      FROM samples
      WHERE {where}
      WINDOW fw AS (PARTITION BY {SQL_LBLS}),
             rw AS ({_W} ROWS UNBOUNDED PRECEDING)),
    csd AS (
      SELECT *, sqrt(
        CAST(sum(CAST(({dev}) * ({dev}) AS DECIMAL(38,12))) OVER fw
             AS DOUBLE)
        / count({dev}) OVER fw) AS sd
      FROM cst
      WINDOW fw AS (PARTITION BY {SQL_LBLS})),
    cps AS (
      SELECT *, c - n * (mu + {slack} * sd) AS p,
                n * (mu - {slack} * sd) - c AS m
      FROM csd),
    crn AS (
      SELECT *,
             p - least(0.0::DOUBLE, min(p) OVER rw) AS spos,
             m - least(0.0::DOUBLE, min(m) OVER rw) AS sneg
      FROM cps
      WINDOW rw AS ({_W} ROWS UNBOUNDED PRECEDING))
    SELECT {SQL_LBLS}, ts,
           (CASE WHEN sd > 0
                 AND (spos > {threshold} * sd OR sneg > {threshold} * sd)
                 THEN 1.0 ELSE 0.0 END)::DOUBLE AS value
    FROM crn"""


@register(
    "m3_changepoints",
    f"{PRELUDE},{sql_cusum_ctes(3.0)}",
)
def m3_changepoints(spark, sf_dir):
    """CUSUM mean-shift changepoint flags (operators/windows.py:
    cusum_changepoints, Page 1954): cumulative-evidence detection of
    persistent level shifts that per-sample z-scores never trip on.
    The sequential CUSUM recurrence runs in closed form
    ``S⁺ = P − min(0, running-min P)`` — two running-frame window
    passes over ONE per-series sort, exact-decimal prefix sums pinning
    the statistic across engines."""
    return _out(
        windows.cusum_changepoints(_fetch(spark, sf_dir), threshold=3.0)
    )


def sql_interpolate_ctes(limit: int | None = None, where: str = "TRUE") -> str:
    """Linear gap-fill replay over the dense grid (own filtered dense
    expansion so the language-path entry can scope the fetch): nearest
    present sample strictly before / strictly after via IGNORE NULLS
    frames, then the straight-line fill as a pure row expression —
    operand order mirrors operators/windows.py:interpolate exactly so
    both engines compute identical doubles."""
    lim = (
        "TRUE"
        if limit is None
        else f"(nts - pts) / {DEFAULT_STEP_MS} - 1 <= {int(limit)}"
    )
    return f"""
    isrc AS (SELECT * FROM samples WHERE {where}),
    igrid AS (
      SELECT gs AS ts
      FROM generate_series({EVENTS_MIN_TS}, {_GRID_MAX}, {DEFAULT_STEP_MS}) t(gs)),
    isids AS (SELECT DISTINCT {SQL_LBLS} FROM isrc),
    idense AS (
      SELECT s.name, s."user", s.region, s.shard, g.ts, v.value
      FROM isids s CROSS JOIN igrid g
      LEFT JOIN isrc v
        ON v.name = s.name AND v."user" = s."user" AND v.region = s.region
       AND v.shard = s.shard AND v.ts = g.ts),
    inb AS (
      SELECT {SQL_LBLS}, ts, value,
        last_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
          OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
        last_value(value IGNORE NULLS)
          OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        first_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
          OVER ({_W} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts,
        first_value(value IGNORE NULLS)
          OVER ({_W} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
      FROM idense)
    SELECT {SQL_LBLS}, ts,
      {sql_quant("CASE WHEN value IS NOT NULL THEN value "
                 "ELSE pv + (nv - pv) * ((ts - pts) / (nts - pts)) END")} AS value
    FROM inb
    WHERE value IS NOT NULL
       OR (pts IS NOT NULL AND nts IS NOT NULL AND ({lim}))"""


@register(
    "m3_interpolate",
    f"{PRELUDE},{sql_interpolate_ctes(limit=3)}",
)
def m3_interpolate(spark, sf_dir):
    """Linear gap interpolation (operators/windows.py:interpolate, the
    Graphite-universe interpolate()): interior grid gaps ≤ 3 steps fill
    by connecting the neighboring present samples with a straight
    line; longer outages and edge gaps stay absent.  One pack shuffle
    plus two ordered frames over the same series sort."""
    return _out(windows.interpolate(_fetch(spark, sf_dir), limit=3))


#: EWMA constants — Python-computed doubles repr-injected into the SQL
#: (NOT decimal literals: 1.0−2/11 computed differs from a parsed
#: literal by an ulp, and the recurrence amplifies ulps — the
#: holt_winters lesson, catalog_promql.py:400).
_EWMA_N = 10
_EWMA_A = 2.0 / (_EWMA_N + 1.0)


def sql_ewma_ctes(
    n: int = _EWMA_N, alpha: float | None = None, where: str = "TRUE"
) -> str:
    """Trailing-window EWMA recurrence replay: self-join + grouped
    ``list(value ORDER BY ts)`` (DuckDB's windowed list() has no
    intra-frame order guarantee) and the fold UNROLLED as scalar CTE
    steps (list_reduce proved run-order-dependent under the parity
    harness — catalog_promql.py:400)."""
    a = 2.0 / (n + 1.0) if alpha is None else float(alpha)
    c1, c2 = repr(1.0 - a), repr(a)
    sql = f""",
    esrc AS (
      SELECT *, row_number() OVER ({_W}) AS rn
      FROM samples WHERE {where}),
    ewins AS (
      SELECT s.name, s."user", s.region, s.shard, s.ts,
             list(w.value ORDER BY w.ts) AS l
      FROM esrc s
      JOIN esrc w
        ON w.name = s.name AND w."user" = s."user"
       AND w.region = s.region AND w.shard = s.shard
       AND w.rn BETWEEN s.rn - {n - 1} AND s.rn
      GROUP BY 1, 2, 3, 4, 5),
    ef1 AS (SELECT *, l[1]::DOUBLE AS s FROM ewins)"""
    for i in range(2, n + 1):
        sql += f""",
    ef{i} AS (
      SELECT * EXCLUDE (s),
        CASE WHEN len(l) >= {i}
             THEN {c1}::DOUBLE * s + {c2}::DOUBLE * l[{i}]::DOUBLE
             ELSE s END AS s
      FROM ef{i - 1})"""
    sql += f"""
    SELECT {SQL_LBLS}, ts, {sql_quant('s')} AS value
    FROM ef{n}"""
    return sql


@register(
    "m3_ewma",
    f"{PRELUDE}{sql_ewma_ctes()}",
)
def m3_ewma(spark, sf_dir):
    """Exponentially-weighted moving average over a trailing 10-sample
    window (operators/windows.py:ewma, the Graphite-universe
    exponentialMovingAverage with a deterministic bounded warm-up):
    the s ← (1−α)s + αx recurrence seeded from the window's oldest
    sample, α = 2/(n+1), folded left-to-right entirely in JVM codegen
    over one bounded collect_list frame — no Arrow, no join."""
    return _out(windows.ewma(_fetch(spark, sf_dir), n=_EWMA_N))


#: correlation runs on an 8× coarser grid: co-movement is a trend
#: question, and the coarse buckets make series actually share
#: timestamps at every SF (at the native step the sparse sample streams
#: barely overlap and min_points filters everything away)
_CORR_STEP = 8 * DEFAULT_STEP_MS
_CORR_PRELUDE = "WITH " + oracle_samples_cte(step=_CORR_STEP)


@register(
    "m3_correlate_target",
    f"""{_CORR_PRELUDE},
    ctgt AS (
      SELECT ts, value AS tv FROM samples
      WHERE name = 'click' AND "user" = '0'),
    cj AS (
      SELECT s.*, t.tv
      FROM samples s JOIN ctgt t USING (ts)
      WHERE NOT isnan(s.value) AND NOT isnan(t.tv)),
    cagg AS (
      SELECT {SQL_LBLS},
             CASE WHEN stddev_pop(value) * stddev_pop(tv) > 0
                  THEN covar_pop(value, tv)
                       / (stddev_pop(value) * stddev_pop(tv))
             END AS c,
             count(*) AS n_points
      FROM cj GROUP BY 1, 2, 3, 4)
    SELECT {SQL_LBLS}, {sql_quant('c')} AS corr, n_points
    FROM cagg
    WHERE n_points >= 3 AND c IS NOT NULL AND NOT isnan(c)""",
)
def m3_correlate_target(spark, sf_dir):
    """One-vs-all Pearson correlation against the click/user-0 series
    (operators/stats.py:correlate_target): the "what moves with this
    metric" blast-radius ranking.  The target's label predicate pushes
    into the scan; ONE series broadcasts into a ts hash join against
    the full frame; one partial-aggregated groupBy — nothing pairwise,
    the shape that survives 100 TB (an all-pairs matrix deliberately
    is not this operator)."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.correlate_target(
        _fetch(spark, sf_dir, step=_CORR_STEP),
        {"name": "click", "user": "0"},
    )
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        quant(F.col("corr")).alias("corr"),
        F.col("n_points"),
    )


#: lead-lag probe half-width, in coarse-grid buckets
_LL_MAXLAG = 4


@register(
    "m3_lead_lag",
    f"""{_CORR_PRELUDE},
    lltgt AS (
      SELECT ts, value AS tv FROM samples
      WHERE name = 'click' AND "user" = '0'),
    llsh AS (
      SELECT l.lag, t.ts + l.lag * {_CORR_STEP} AS jts, t.tv
      FROM lltgt t
      CROSS JOIN (SELECT unnest(generate_series(
        -{_LL_MAXLAG}, {_LL_MAXLAG})) AS lag) l),
    llagg AS (
      SELECT {SQL_LBLS}, g.lag,
             CASE WHEN stddev_pop(s.value) * stddev_pop(g.tv) > 0
                  THEN covar_pop(s.value, g.tv)
                       / (stddev_pop(s.value) * stddev_pop(g.tv))
             END AS c,
             count(*) AS n_points
      FROM samples s JOIN llsh g ON s.ts = g.jts
      WHERE NOT isnan(s.value) AND NOT isnan(g.tv)
      GROUP BY 1, 2, 3, 4, 5),
    llq AS (
      SELECT {SQL_LBLS}, lag, n_points,
             floor(c * 10000.0 + 0.5) / 10000.0 AS corr
      FROM llagg
      WHERE n_points >= 3 AND c IS NOT NULL AND NOT isnan(c)),
    llrk AS (
      SELECT *, row_number() OVER (
        PARTITION BY {SQL_LBLS}
        ORDER BY abs(corr) DESC, abs(lag) ASC, lag ASC) AS rk
      FROM llq)
    SELECT {SQL_LBLS}, lag AS lag_buckets,
           lag * {_CORR_STEP} AS lag_ms, corr, n_points
    FROM llrk WHERE rk = 1 AND abs(corr) >= 0.25""",
)
def m3_lead_lag(spark, sf_dir):
    """Lead-lag detection vs the click/user-0 series
    (operators/stats.py:lead_lag_target): correlate every fleet series
    with the target at bucket lags in ±4 and keep the best-aligned lag
    — the "who moves FIRST" causal-order hint.  The 2·4+1 shifted
    copies of the ONE target series stay a bounded broadcast; the
    corpus pays one scan + one partial-aggregated groupBy on
    (series_key, lag); corr is 1e-4-quantized BEFORE both the argmax
    and the threshold so neither can flip between engines."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.lead_lag_target(
        _fetch(spark, sf_dir, step=_CORR_STEP),
        {"name": "click", "user": "0"},
        max_lag=_LL_MAXLAG,
        min_abs_corr=0.25,
    )
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        "lag_buckets",
        "lag_ms",
        F.col("corr"),
        F.col("n_points"),
    )


_RC_W = 6


def sql_rolling_corr_ctes(
    step: int,
    w: int,
    min_points: int,
    agg: str = "CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)",
) -> str:
    """The rolling-Pearson replay over a grouped (name, region) fleet
    vs the click/r0 target (consumes the ``samples`` CTE): 1e-6
    integer quantization, five exact-integer windowed co-moments,
    double combination — shared by the operator entry (exact-decimal
    sum) and the m3ql language-path entry (``max(value)``: the
    language's grouped max is order-independent, so the float-sum
    ordering hazard never reaches the 1e-6 quantizer),
    parameterized on the grid step."""
    return f"""rsrc AS (
      SELECT name, region, ts, {agg} AS value
      FROM samples GROUP BY 1, 2, 3),
    rctgt AS (
      SELECT ts, value AS tv FROM rsrc
      WHERE name = 'click' AND region = 'r0'),
    rcj AS (
      SELECT s.name, s.region, s.ts,
             floor(s.value * 1e6 + 0.5)::BIGINT AS x,
             floor(g.tv * 1e6 + 0.5)::BIGINT AS y
      FROM rsrc s JOIN rctgt g ON s.ts = g.ts
      WHERE NOT isnan(s.value) AND NOT isnan(g.tv)),
    rcm AS (
      SELECT name, region, ts,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x::HUGEINT * x) OVER w AS sxx,
             sum(y::HUGEINT * y) OVER w AS syy,
             sum(x::HUGEINT * y) OVER w AS sxy
      FROM rcj
      WINDOW w AS (PARTITION BY name, region ORDER BY ts
                   RANGE BETWEEN {(w - 1) * step} PRECEDING
                   AND CURRENT ROW)),
    rcc AS (
      SELECT name, region, ts, n,
             n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS vx,
             n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vy,
             n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS cov
      FROM rcm)
    SELECT name, region, ts,
           {sql_quant('cov / (sqrt(vx) * sqrt(vy))')} AS value
    FROM rcc WHERE n >= {min_points} AND vx > 0 AND vy > 0"""


@register(
    "m3_rolling_corr",
    f"""{_CORR_PRELUDE},
    {sql_rolling_corr_ctes(_CORR_STEP, _RC_W, 4)}""",
)
def m3_rolling_corr(spark, sf_dir):
    """Rolling Pearson correlation of every (name, region) sum series
    vs the click/r0 series over a trailing {_RC_W}-bucket window
    (operators/stats.py:rolling_corr_target composed with
    grouping.sum_): the when-did-it-decouple view of
    correlate_target's global number.  Both series quantize to 1e-6
    integers and the five windowed co-moments are EXACT integer sums
    (DuckDB's segment-tree sliding aggregates reorder float summation,
    so only integer moments are engine-portable); the Pearson
    combination runs in double over exact moments with the identical
    expression on both sides."""
    from time_series_db_spark.operators import stats as stats_ops

    sf = grouping.sum_(
        _fetch(spark, sf_dir, step=_CORR_STEP), ["name", "region"],
        exact=True,
    )
    out = stats_ops.rolling_corr_target(
        sf,
        {"name": "click", "region": "r0"},
        window_buckets=_RC_W,
        min_points=4,
    )
    return _out(out, ["name", "region"])


#: forecast backtest config: daily season on the hourly grid, hold out
#: the last 12 buckets
_FB_H = 12
_FB_P = 24
_FB_SEASON = _FB_P * DEFAULT_STEP_MS


@register(
    "m3_forecast_backtest",
    f"""{PRELUDE},
    bsrc AS (
      SELECT name, region, ts,
             CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS value
      FROM samples GROUP BY 1, 2, 3),
    blts AS (
      SELECT name, region,
             max(CASE WHEN NOT isnan(value) THEN ts END) AS full_lts
      FROM bsrc GROUP BY 1, 2),
    btr AS (
      SELECT s.* FROM bsrc s
      JOIN blts b USING (name, region)
      WHERE s.ts <= b.full_lts - {_FB_H * DEFAULT_STEP_MS}),
    bagg AS (
      SELECT name, region, min(ts) AS fts, max(ts) AS lts,
             arg_min(value, ts) AS vf, arg_max(value, ts) AS vl
      FROM btr WHERE NOT isnan(value)
      GROUP BY 1, 2),
    bgrid AS (
      SELECT a.name, a.region,
             a.lts + g.h * {DEFAULT_STEP_MS} AS tsf,
             a.lts + g.h * {DEFAULT_STEP_MS}
               - ((g.h + {_FB_P - 1}) // {_FB_P}) * {_FB_SEASON} AS tsb,
             CASE WHEN a.lts > a.fts
                  THEN (a.vl - a.vf) / ((a.lts - a.fts) / {DEFAULT_STEP_MS})
                  ELSE 0.0::DOUBLE END AS d
      FROM bagg a CROSS JOIN generate_series(1, {_FB_H}) g(h)),
    bpred AS (
      SELECT g.name, g.region, g.tsf,
             b.value + ((g.tsf - g.tsb) / {DEFAULT_STEP_MS}) * g.d AS pred
      FROM bgrid g
      JOIN btr b
        ON b.name = g.name AND b.region = g.region AND b.ts = g.tsb),
    bsc AS (
      SELECT p.name, p.region,
             floor(abs(p.pred - a.value) * 1e6 + 0.5)::HUGEINT AS ae,
             floor((p.pred - a.value) * 1e6 + 0.5)::HUGEINT AS e,
             CASE WHEN a.value <> 0
                  THEN floor(abs(p.pred - a.value) / abs(a.value)
                             * 1e6 + 0.5)::HUGEINT END AS ape
      FROM bpred p
      JOIN bsrc a
        ON a.name = p.name AND a.region = p.region AND a.ts = p.tsf
      WHERE NOT isnan(a.value) AND NOT isnan(p.pred))
    SELECT name, region, count(*)::BIGINT AS n_eval,
           {sql_quant('CAST(sum(ae) AS DOUBLE) / 1e6 / count(*)')} AS mae,
           {sql_quant('CAST(sum(e) AS DOUBLE) / 1e6 / count(*)')} AS bias,
           {sql_quant('CASE WHEN count(ape) > 0 THEN '
                      'CAST(sum(ape) AS DOUBLE) / 1e6 / count(ape) END')}
             AS mape
    FROM bsc GROUP BY 1, 2""",
)
def m3_forecast_backtest(spark, sf_dir):
    """Hold-out forecast evaluation
    (operators/windows.py:forecast_backtest): hide each series' last
    {_FB_H} buckets, forecast them with the daily-season SNAIVE+drift
    over the (name, region) sum fleet, and score MAE / signed bias / MAPE against the hidden actuals —
    the trust-the-forecast loop, mirroring classifier_calibration and
    retrieval_eval for this round's forecaster.  Per-point error terms
    quantize to 1e-6 integers BEFORE the per-series sums (order-free),
    so every emitted mean is one division of exact integers."""
    sf = grouping.sum_(_fetch(spark, sf_dir), ["name", "region"], exact=True)
    out = windows.forecast_backtest(sf, horizon=_FB_H, season_ms=_FB_SEASON)
    return out.select(
        *[F.col("labels")[k].alias(k) for k in ["name", "region"]],
        "n_eval",
        quant(F.col("mae")).alias("mae"),
        quant(F.col("bias")).alias("bias"),
        quant(F.col("mape")).alias("mape"),
    )


#: correlate_matrix sketch config: coarse buckets of 4 grid steps,
#: 4-symbol bands, stop-band cap 32 (candidates measured 31.6k→41.3k
#: across a 10× fleet on the bench corpus — the cap is what keeps the
#: celled path sub-quadratic on noise-heavy fleets)
_CMX_COARSE = 4 * _CORR_STEP
_CMX_R = 4
_CMX_BANDW = _CMX_COARSE * _CMX_R
_CMX_CAP = 32


@register(
    "m3_correlate_matrix",
    f"""{_CORR_PRELUDE},
    cmk AS MATERIALIZED (
      SELECT 'name:' || name || ',region:' || region || ',shard:' || shard
               || ',user:' || "user" AS key, ts, value
      FROM samples WHERE NOT isnan(value)),
    cmb AS MATERIALIZED (
      SELECT key, ts - ts % {_CMX_COARSE} AS b,
             sum(value::DECIMAL(27,6)) AS s, count(*)::BIGINT AS n
      FROM cmk GROUP BY 1, 2),
    cmg AS (
      SELECT key,
             unnest(generate_series(min(b), max(b), {_CMX_COARSE})) AS b
      FROM cmb GROUP BY key),
    cmf AS (
      SELECT g.key, g.b,
             last_value(x.s IGNORE NULLS) OVER w AS cs,
             last_value(x.n IGNORE NULLS) OVER w AS cn
      FROM cmg g LEFT JOIN cmb x ON x.key = g.key AND x.b = g.b
      WINDOW w AS (PARTITION BY g.key ORDER BY g.b)),
    cmd AS (
      SELECT key, b - {_CMX_COARSE} AS p,
             cs * lag(cn) OVER w2 AS lhs,
             lag(cs) OVER w2 * cn AS rhs
      FROM cmf
      WINDOW w2 AS (PARTITION BY key ORDER BY b)),
    cms AS (
      SELECT key, p,
             CASE WHEN lhs > rhs THEN 'u' WHEN lhs < rhs THEN 'd'
                  ELSE 'f' END AS sym
      FROM cmd WHERE rhs IS NOT NULL),
    cmgr AS (
      SELECT key, (p - p % {_CMX_BANDW}) // {_CMX_BANDW} AS band,
             string_agg(sym, '' ORDER BY p) AS sig
      FROM cms GROUP BY 1, 2),
    cmok AS MATERIALIZED (
      SELECT * FROM (
        SELECT key, band, sig,
               count(*) OVER (PARTITION BY band, sig) AS cnt
        FROM cmgr WHERE length(sig) = {_CMX_R})
      WHERE cnt <= {_CMX_CAP}),
    cmc AS MATERIALIZED (
      SELECT DISTINCT a.key AS ka, b.key AS kb
      FROM cmok a JOIN cmok b
        ON b.band = a.band AND a.key < b.key
       AND (b.sig = a.sig OR b.sig = translate(a.sig, 'ud', 'du'))),
    cmp2 AS (
      SELECT c.ka, c.kb,
             CASE WHEN stddev_pop(x.value) * stddev_pop(y.value) > 0
                  THEN covar_pop(x.value, y.value)
                       / (stddev_pop(x.value) * stddev_pop(y.value))
             END AS c2,
             count(*)::BIGINT AS n_points
      FROM cmc c
      JOIN cmk x ON x.key = c.ka
      JOIN cmk y ON y.key = c.kb AND y.ts = x.ts
      GROUP BY 1, 2),
    cmq AS (
      SELECT ka, kb, {sql_quant('c2')} AS cq, c2, n_points FROM cmp2)
    SELECT ka AS key_a, kb AS key_b, cq AS corr, n_points
    FROM cmq
    WHERE n_points >= 5 AND c2 IS NOT NULL AND NOT isnan(c2)
      AND abs(cq) >= 0.7""",
)
def m3_correlate_matrix(spark, sf_dir):
    """Celled all-pairs correlation matrix (operators/stats.py:
    correlate_matrix): the "which series co-move" fleet clustering the
    one-vs-all operator defers.  Candidates come from a banded
    up/down/flat trend sketch over keep-last-filled coarse buckets
    (exact decimal sign tests, u↔d inverted bands for
    anti-correlation, stop-band cap pruning fleet-wide patterns);
    exact Pearson runs on candidates ONLY — the S² all-pairs path
    exists only in tests.  Both candidate joins are equi hash joins on
    (band, signature); every sketch stage shares one series_key
    exchange."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.correlate_matrix(
        _fetch(spark, sf_dir, step=_CORR_STEP),
        coarse_ms=_CMX_COARSE,
        band_symbols=_CMX_R,
        max_bucket=_CMX_CAP,
        min_points=5,
        min_abs_corr=0.7,
    )
    return out.select(
        "key_a", "key_b", quant(F.col("corr")).alias("corr"), "n_points"
    )


_ACF_L = 24
_ACF_MU = "(m.sx / m.n)"

#: shared ACF CTE chain (moments + bounded lag scatter + pair sums) —
#: used by m3_autocorrelation and the seasonalAdjust-auto replay
_ACF_EXPR = (
    f'CASE WHEN m.sxx - m.n * {_ACF_MU} * {_ACF_MU} > 0 '
    f'THEN (p.sxy - {_ACF_MU} * (p.sxa + p.sxb) '
    f'      + p.np * {_ACF_MU} * {_ACF_MU}) '
    f'     / (m.sxx - m.n * {_ACF_MU} * {_ACF_MU}) END'
)

def sql_acf_ctes(max_lag: int = _ACF_L) -> str:
    """The per-series ACF replay chain (moments + bounded lag scatter +
    pair sums), parameterized on the lag bound — operator entries pin
    ``_ACF_L``; the m3ql language path replays the engine default."""
    return f"""asrc AS (
      SELECT {SQL_LBLS}, ts, value FROM samples WHERE NOT isnan(value)),
    amom AS (
      SELECT {SQL_LBLS}, sum(value) AS sx, count(*)::DOUBLE AS n,
             sum(value * value) AS sxx
      FROM asrc GROUP BY 1, 2, 3, 4),
    apair AS (
      SELECT a.name, a."user", a.region, a.shard, g.l::BIGINT AS lag,
             a.value AS xa, b.value AS xb
      FROM asrc a
      CROSS JOIN generate_series(1, {max_lag}) g(l)
      JOIN asrc b
        ON b.name = a.name AND b."user" = a."user"
       AND b.region = a.region AND b.shard = a.shard
       AND b.ts = a.ts + g.l * {DEFAULT_STEP_MS}),
    apl AS (
      SELECT name, "user", region, shard, lag,
             sum(xa * xb) AS sxy, sum(xa) AS sxa, sum(xb) AS sxb,
             count(*)::DOUBLE AS np
      FROM apair GROUP BY 1, 2, 3, 4, 5)"""


_ACF_CTES = sql_acf_ctes()


@register(
    "m3_autocorrelation",
    f"""{PRELUDE},
    {_ACF_CTES}
    SELECT p.name, p."user", p.region, p.shard, p.lag,
           p.np::BIGINT AS n_pairs,
           {sql_quant(_ACF_EXPR)} AS acf
    FROM apl p JOIN amom m USING (name, "user", region, shard)""",
)
def m3_autocorrelation(spark, sf_dir):
    """Per-series sample autocorrelation at lags 1..24
    (operators/stats.py:autocorrelation): the periodicity detector
    that feeds seasonalAdjust's season parameter — the dominant ACF
    peak IS the season.  No window sort: per-series raw moments in one
    partial agg, a bounded lag scatter equi-joined back on
    (series, ts), pair sums in a second partial agg; the centering
    folds into the moment algebra so the corpus is scanned once."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.autocorrelation(_fetch(spark, sf_dir), max_lag=_ACF_L)
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        "lag",
        "n_pairs",
        quant(F.col("acf")).alias("acf"),
    )


#: the seasonalAdjust-auto detection replay (per-series quantized-ACF
#: argmax, fleet-majority vote) — shared by every auto-season oracle
_AVOTE_CTES = f"""aacf AS (
      SELECT p.name, p."user", p.region, p.shard, p.lag,
             {sql_quant(_ACF_EXPR)} AS qa
      FROM apl p JOIN amom m USING (name, "user", region, shard)
      WHERE p.lag >= 2),
    abest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY name, "user", region, shard
            ORDER BY qa DESC, lag ASC) AS rn
        FROM aacf WHERE qa IS NOT NULL AND NOT isnan(qa))
      WHERE rn = 1),
    avote AS MATERIALIZED (
      SELECT lag FROM (SELECT lag, count(*) AS c FROM abest GROUP BY 1)
      ORDER BY c DESC, lag ASC LIMIT 1)"""


@register(
    "m3_seasonal_auto",
    f"""{PRELUDE},
    {_ACF_CTES},
    {_AVOTE_CTES},
    aph AS (
      SELECT {SQL_LBLS}, ts, value,
             (ts % ((SELECT lag FROM avote) * {DEFAULT_STEP_MS}))
               - (ts % {DEFAULT_STEP_MS}) AS ph
      FROM samples),
    asm AS (
      SELECT {SQL_LBLS}, ts, value,
             CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
               / count(value) OVER w AS sm
      FROM aph
      WINDOW w AS (PARTITION BY {SQL_LBLS}, ph))
    SELECT {SQL_LBLS}, ts, {sql_quant('value - sm')} AS value
    FROM asm""",
)
def m3_seasonal_auto(spark, sf_dir):
    """seasonalAdjust auto (operators/windows.py:seasonal_adjust_auto
    + operators/stats.py:detect_season): the season comes from the
    frame's OWN autocorrelation — per-series dominant ACF peak on the
    1e-4-quantized grid (so the argmax cannot flip on summation-order
    ulps; ties to the smaller lag), fleet-majority vote, then the
    seasonal-naive residual at that season with the grid step as the
    profile bucket.  The oracle replays the whole detection chain;
    the planted-period recovery proof lives in tests (mockFetch
    periodic → detected season == the generator's period)."""
    return _out(
        windows.seasonal_adjust_auto(_fetch(spark, sf_dir), max_lag=_ACF_L)
    )


#: the classical-decomposition replay chain (consumes the `avote` CTE):
#: parity-uniform centered-MA trend as a range self-join (SQL frame
#: bounds cannot be data-dependent), detrended phase profile, residual
#: — shared by the operator entry and the m3ql language-path entry
SQL_SDC_CTES = f"""dcfg AS MATERIALIZED (
      SELECT lag, lag * {DEFAULT_STEP_MS} AS season,
             (lag // 2) * {DEFAULT_STEP_MS} AS h1,
             (lag - lag // 2 - 1) * {DEFAULT_STEP_MS} AS h2
      FROM avote),
    dsrc AS MATERIALIZED (
      SELECT {SQL_LBLS}, ts, value,
             min(CASE WHEN NOT isnan(value) THEN ts END) OVER dw AS fts,
             max(CASE WHEN NOT isnan(value) THEN ts END) OVER dw AS lts
      FROM samples
      WINDOW dw AS (PARTITION BY {SQL_LBLS})),
    dtr AS (
      SELECT s.name, s."user", s.region, s.shard, s.ts, s.value,
             min(s.fts) AS fts, min(s.lts) AS lts,
             sum(CASE WHEN NOT isnan(w.value)
                       AND w.ts BETWEEN s.ts - c.h1 AND s.ts + c.h2
                      THEN CAST(w.value AS DECIMAL(27,6)) END)
             + sum(CASE WHEN NOT isnan(w.value)
                         AND w.ts BETWEEN s.ts - c.h2 AND s.ts + c.h1
                        THEN CAST(w.value AS DECIMAL(27,6)) END) AS s2,
             count(CASE WHEN NOT isnan(w.value)
                         AND w.ts BETWEEN s.ts - c.h1 AND s.ts + c.h2
                        THEN 1 END)
             + count(CASE WHEN NOT isnan(w.value)
                           AND w.ts BETWEEN s.ts - c.h2 AND s.ts + c.h1
                          THEN 1 END) AS n2
      FROM dsrc s
      CROSS JOIN dcfg c
      JOIN dsrc w
        ON w.name = s.name AND w."user" = s."user"
       AND w.region = s.region AND w.shard = s.shard
       AND w.ts BETWEEN s.ts - c.h1 AND s.ts + c.h1
      GROUP BY 1, 2, 3, 4, 5, 6),
    dtd AS (
      SELECT *, CASE WHEN ts - (SELECT h1 FROM dcfg) >= fts
                      AND ts + (SELECT h1 FROM dcfg) <= lts
                      AND n2 > 0
                     THEN CAST(s2 AS DOUBLE) / n2 END AS trend
      FROM dtr),
    dph AS (
      SELECT *,
             CASE WHEN NOT isnan(value) THEN value - trend END AS detr,
             (ts % (SELECT season FROM dcfg))
               - (ts % {DEFAULT_STEP_MS}) AS ph
      FROM dtd),
    dsn AS (
      SELECT *, CAST(sum(CAST(detr AS DECIMAL(27,6))) OVER w AS DOUBLE)
                  / count(detr) OVER w AS seasonal
      FROM dph
      WINDOW w AS (PARTITION BY name, "user", region, shard, ph))"""


@register(
    "m3_seasonal_decompose",
    f"""{PRELUDE},
    {_ACF_CTES},
    {_AVOTE_CTES},
    {SQL_SDC_CTES}
    SELECT name, "user", region, shard, ts,
           {sql_quant('value')} AS value,
           {sql_quant('trend')} AS trend,
           {sql_quant('seasonal')} AS seasonal,
           {sql_quant('detr - seasonal')} AS residual
    FROM dsn""",
)
def m3_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition at the auto-detected season
    (operators/windows.py:seasonal_decompose + stats.detect_season):
    the full trend/seasonal/residual triple — parity-uniform centered
    MA trend (two offset P-point windows summed, textbook-NULL where
    the 2P-sample window is incomplete), phase profile of the
    DETRENDED interior, residual as the leftover.  The oracle replays
    the whole chain: the ACF vote, the trend as a per-series range
    self-join (SQL frame bounds cannot be data-dependent), and the
    same exact-decimal means."""
    out = windows.seasonal_decompose(_fetch(spark, sf_dir), max_lag=_ACF_L)
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        "ts",
        quant(F.col("value")).alias("value"),
        quant(F.col("trend")).alias("trend"),
        quant(F.col("seasonal")).alias("seasonal"),
        quant(F.col("residual")).alias("residual"),
    )


_FC_H = 8


def sql_forecast_ctes(horizon: int) -> str:
    """The seasonal-naive + drift replay (consumes the ``avote`` CTE):
    per-series finite-endpoint table, bounded horizon grid with the
    carried-gap drift, base-sample equi join — shared by the operator
    entry and the m3ql language-path entry."""
    return f"""fcfg AS MATERIALIZED (
      SELECT lag, lag * {DEFAULT_STEP_MS} AS season FROM avote),
    fagg AS (
      SELECT {SQL_LBLS}, min(ts) AS fts, max(ts) AS lts,
             arg_min(value, ts) AS vf, arg_max(value, ts) AS vl
      FROM samples WHERE NOT isnan(value)
      GROUP BY 1, 2, 3, 4),
    fgrid AS (
      SELECT a.name, a."user", a.region, a.shard,
             a.lts + g.h * {DEFAULT_STEP_MS} AS tsf,
             a.lts + g.h * {DEFAULT_STEP_MS}
               - ((g.h + c.lag - 1) // c.lag) * c.season AS tsb,
             CASE WHEN a.lts > a.fts
                  THEN (a.vl - a.vf) / ((a.lts - a.fts) / {DEFAULT_STEP_MS})
                  ELSE 0.0::DOUBLE END AS d
      FROM fagg a
      CROSS JOIN fcfg c
      CROSS JOIN generate_series(1, {horizon}) g(h))
    SELECT g.name, g."user", g.region, g.shard, g.tsf AS ts,
           {sql_quant(f'b.value + ((g.tsf - g.tsb) / {DEFAULT_STEP_MS}) * g.d')} AS value
    FROM fgrid g
    JOIN samples b
      ON b.name = g.name AND b."user" = g."user"
     AND b.region = g.region AND b.shard = g.shard
     AND b.ts = g.tsb"""


@register(
    "m3_forecast",
    f"""{PRELUDE},
    {_ACF_CTES},
    {_AVOTE_CTES},
    {sql_forecast_ctes(_FC_H)}""",
)
def m3_forecast(spark, sf_dir):
    """Seasonal-naive + drift forecast at the auto-detected season
    (operators/windows.py:forecast + stats.detect_season): 8 future
    grid samples per series, each the most recent sample a whole number
    of seasons back plus the endpoint drift accrued over the carried
    gap — the SNAIVE/drift benchmark pair from Hyndman §5.2, extending
    the reference's trend-only predict_linear.  The oracle replays the
    ACF vote, the per-series endpoint table, the bounded horizon grid,
    and the same base-sample equi join."""
    sf = windows.forecast(_fetch(spark, sf_dir), horizon=_FC_H, max_lag=_ACF_L)
    return _out(sf)


@register(
    "m3_season_votes",
    f"""{PRELUDE},
    {_ACF_CTES},
    aacf AS (
      SELECT p.name, p."user", p.region, p.shard, p.lag,
             {sql_quant(_ACF_EXPR)} AS qa
      FROM apl p JOIN amom m USING (name, "user", region, shard)
      WHERE p.lag >= 2)
    SELECT name, "user", region, shard, lag, qa AS acf FROM (
      SELECT *, row_number() OVER (
          PARTITION BY name, "user", region, shard
          ORDER BY qa DESC, lag ASC) AS rn
      FROM aacf WHERE qa IS NOT NULL AND NOT isnan(qa))
    WHERE rn = 1""",
)
def m3_season_votes(spark, sf_dir):
    """Per-series season votes (operators/stats.py:season_votes): each
    series' dominant quantized-ACF lag — the election behind
    seasonalAdjust auto, exposed as its own inspection surface (a host
    disagreeing with the fleet's season is itself a diagnostic).
    Fleet-metadata-sized; one bounded ACF scatter + a rank-1 window."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.season_votes(_fetch(spark, sf_dir), max_lag=_ACF_L)
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        "lag",
        quant(F.col("acf")).alias("acf"),
    )


@register(
    "m3_seasonal_auto_series",
    f"""{PRELUDE},
    {_ACF_CTES},
    aacf AS (
      SELECT p.name, p."user", p.region, p.shard, p.lag,
             {sql_quant(_ACF_EXPR)} AS qa
      FROM apl p JOIN amom m USING (name, "user", region, shard)
      WHERE p.lag >= 2),
    avt AS (
      SELECT name, "user", region, shard,
             lag * {DEFAULT_STEP_MS} AS season
      FROM (
        SELECT *, row_number() OVER (
            PARTITION BY name, "user", region, shard
            ORDER BY qa DESC, lag ASC) AS rn
        FROM aacf WHERE qa IS NOT NULL AND NOT isnan(qa))
      WHERE rn = 1),
    aj AS (
      SELECT s.name, s."user", s.region, s.shard, s.ts, s.value,
             v.season
      FROM samples s
      LEFT JOIN avt v USING (name, "user", region, shard)),
    aph AS (
      SELECT *, CASE WHEN season IS NOT NULL
                     THEN (ts % season) - (ts % {DEFAULT_STEP_MS})
                     ELSE 0 END AS ph
      FROM aj),
    asm AS (
      SELECT {SQL_LBLS}, ts, value,
             CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
               / count(value) OVER w AS sm
      FROM aph
      WINDOW w AS (PARTITION BY {SQL_LBLS}, ph))
    SELECT {SQL_LBLS}, ts, {sql_quant('value - sm')} AS value
    FROM asm""",
)
def m3_seasonal_auto_series(spark, sf_dir):
    """Per-series auto-season residual (windows.seasonal_adjust_auto
    with per_series=True): each series adjusts at ITS OWN dominant ACF
    peak — a mixed fleet (daily-cycle hosts next to hourly batch jobs)
    has no single right season, so the fleet-majority vote of
    m3_seasonal_auto is wrong for the minority.  The season_votes
    table joins back (fleet-metadata-sized) and the phase key becomes
    a column expression, so the whole fleet still pays ONE
    (series, phase) window pass; peak-less series degrade to the
    series-mean residual."""
    out = windows.seasonal_adjust_auto(
        _fetch(spark, sf_dir), max_lag=_ACF_L, per_series=True
    )
    return _out(out)


_FLEET_FIN = "CASE WHEN NOT isnan(value) THEN value END"


@register(
    "m3_fleet_outliers",
    f"""{PRELUDE},
    fper AS (
      SELECT {SQL_LBLS},
             CAST(sum(CAST({_FLEET_FIN} AS DECIMAL(27,6))) AS DOUBLE)
               / count({_FLEET_FIN}) AS m
      FROM samples GROUP BY 1, 2, 3, 4),
    fmed AS (SELECT quantile_cont(m, 0.5) AS med FROM fper),
    fdev AS (SELECT p.*, med FROM fper p CROSS JOIN fmed),
    fmad AS (SELECT quantile_cont(abs(m - med), 0.5) AS mad FROM fdev)
    SELECT {SQL_LBLS}, {sql_quant('m')} AS mean,
           {sql_quant(
               'CASE WHEN mad > 0 '
               'THEN (m - med) / (1.4826::DOUBLE * mad) END'
           )} AS robust_z
    FROM fdev CROSS JOIN fmad""",
)
def m3_fleet_outliers(spark, sf_dir):
    """Fleet-level robust outlier scores (operators/stats.py:
    fleet_outlier_scores): every series' window mean scored against
    the fleet median in MAD units — the which-host-is-misbehaving
    sweep, median/MAD so the outliers cannot mask the baseline.  ONE
    partial-aggregated groupBy collapses the corpus to fleet-sized
    rows; median and MAD are two one-row exact percentiles broadcast
    back.  Scores, not flags: a 0/1 flag would be knife-edge-unstable
    at the threshold, ranking is the caller's step."""
    from time_series_db_spark.operators import stats as stats_ops

    out = stats_ops.fleet_outlier_scores(_fetch(spark, sf_dir))
    return out.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        quant(F.col("mean")).alias("mean"),
        quant(F.col("robust_z")).alias("robust_z"),
    )


@register(
    "m3_per_second_rate",
    f"""{PRELUDE},
    lagged AS (
      SELECT {SQL_LBLS}, ts, value,
             lag(value) OVER ({_W}) AS pv, lag(ts) OVER ({_W}) AS pts
      FROM samples),
    rates AS (
      SELECT {SQL_LBLS}, ts,
             (CASE WHEN value < pv THEN value ELSE value - pv END)
               / ((ts - pts) / 1000.0) AS rate
      FROM lagged WHERE pts IS NOT NULL)
    SELECT {SQL_LBLS}, ts,
           {sql_quant(f'avg(rate) OVER ({_W} RANGE BETWEEN {3 * DEFAULT_STEP_MS - DEFAULT_STEP_MS} PRECEDING AND CURRENT ROW)')} AS value
    FROM rates""",
)
def m3_per_second_rate(spark, sf_dir):
    return _out(windows.per_second_rate(_fetch(spark, sf_dir), 3 * DEFAULT_STEP_MS))


_TRUNC_LO = EVENTS_MIN_TS + 5 * DEFAULT_STEP_MS
_TRUNC_HI = EVENTS_MAX_TS - 5 * DEFAULT_STEP_MS


@register(
    "m3_truncate",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE ts >= {_TRUNC_LO} AND ts < {_TRUNC_HI}""",
)
def m3_truncate(spark, sf_dir):
    """truncate — buffered-fetch trim to [start, end) after window
    widening (TruncateStage.java:33, injection at
    SourceBuilderVisitor.java:331-339). Exercised here directly: full-range
    fetch, then trim 5 steps off each edge — the same plan shape the m3ql
    planner injects after a moving/perSecondRate widened scan."""
    return _out(windows.truncate(_fetch(spark, sf_dir), _TRUNC_LO, _TRUNC_HI))


_NORM_STEP = 4 * DEFAULT_STEP_MS


def _with_type_tag(sf: SeriesFrame) -> SeriesFrame:
    """Inject a ``type`` label (counter for r0/r1, gauge otherwise) and
    recompute series_key, so TYPE_AWARE consolidation exercises both the
    counter-sum and the gauge-avg branch."""
    from time_series_db_spark.model import SAMPLE_COLS, series_key_expr

    typ = F.when(
        F.col("labels")["region"].isin("r0", "r1"), F.lit("counter")
    ).otherwise(F.lit("gauge"))
    df = (
        sf.df.withColumn(
            "labels",
            F.map_concat(F.col("labels"), F.create_map(F.lit("type"), typ)),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


@register(
    "m3_normalize_mixed_step",
    f"""{PRELUDE}
    SELECT {SQL_LBLS},
           {EVENTS_MIN_TS} + ((ts - {EVENTS_MIN_TS}) // {_NORM_STEP}) * {_NORM_STEP} AS ts,
           {sql_quant("CASE WHEN region IN ('r0','r1') THEN sum(value) ELSE avg(value) END")} AS value
    FROM samples GROUP BY 1, 2, 3, 4, 5""",
)
def m3_normalize_mixed_step(spark, sf_dir):
    """Mixed-step normalization — TimeSeriesNormalizer.java:66 (MAX step
    strategy) + :141-168 (TYPE_AWARE consolidation: counter series sum,
    others average). A 1h-step frame and a 4h-step frame normalize onto the
    4h MAX grid; the coarse frame takes the aligned fast path (no shuffle),
    the fine frame re-buckets per its ``type`` tag."""
    from time_series_db_spark.operators import normalize

    a = _with_type_tag(_fetch(spark, sf_dir))
    b = normalize.resample(a, EVENTS_MIN_TS, EVENTS_MAX_TS, _NORM_STEP, "sum")
    na, _nb = normalize.normalize_frames([a, b], "max", "type_aware")
    return _out(na)


# ---------------------------------------------------------------------------
# ordering / top-k
# ---------------------------------------------------------------------------

_STATS_CTE = f""",
stats AS (
  SELECT {SQL_LBLS},
         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / count(value) AS stat,
         {SQL_SERIES_KEY} AS skey
  FROM samples GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY stat DESC, skey) AS rnk FROM stats
)"""


@register(
    "m3_sort",
    f"""{PRELUDE}{_STATS_CTE}
    SELECT s.name, s."user", s.region, s.shard, s.ts, {sql_quant('s.value')} AS value, r.rnk
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard""",
)
def m3_sort(spark, sf_dir):
    sf = ordering.sort(_fetch(spark, sf_dir), "avg", descending=True)
    return _out(sf, extra=[F.col("__order").alias("rnk")])


@register(
    "m3_topk",
    f"""{PRELUDE}{_STATS_CTE}
    SELECT s.name, s."user", s.region, s.shard, s.ts, {sql_quant('s.value')} AS value, r.rnk
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard
    WHERE r.rnk <= 5""",
)
def m3_topk(spark, sf_dir):
    sf = ordering.top_k(_fetch(spark, sf_dir), 5, "avg", descending=True)
    return _out(sf, extra=[F.col("__order").alias("rnk")])


@register(
    "m3_head",
    f"""{PRELUDE}{_STATS_CTE}
    SELECT s.name, s."user", s.region, s.shard, s.ts, {sql_quant('s.value')} AS value
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard
    WHERE r.rnk <= 3""",
)
def m3_head(spark, sf_dir):
    sf = ordering.head(ordering.sort(_fetch(spark, sf_dir), "avg"), 3)
    return _out(sf)


@register(
    "m3_tail",
    f"""{PRELUDE}{_STATS_CTE}
    SELECT s.name, s."user", s.region, s.shard, s.ts, {sql_quant('s.value')} AS value
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard
    WHERE r.rnk > (SELECT max(rnk) FROM ranked) - 3""",
)
def m3_tail(spark, sf_dir):
    sf = ordering.tail(ordering.sort(_fetch(spark, sf_dir), "avg"), 3)
    return _out(sf)


# ---------------------------------------------------------------------------
# binary stages
# ---------------------------------------------------------------------------

@register(
    "m3_divide",
    f"""{PRELUDE},
    totals AS (SELECT name, ts, CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS tv FROM samples GROUP BY 1, 2)
    SELECT s.name, s."user", s.region, s.shard, s.ts,
           {sql_quant("CASE WHEN t.tv = 0 THEN 'NaN'::DOUBLE ELSE s.value / t.tv END")} AS value
    FROM samples s JOIN totals t ON s.name = t.name AND s.ts = t.ts""",
)
def m3_divide(spark, sf_dir):
    """divide — each series over its name-group total (DivideStage.java:36;
    right side is a small aggregate → Catalyst broadcasts it)."""
    sf = _fetch(spark, sf_dir)
    return _out(binary.divide(sf, grouping.sum_(sf, ["name"], exact=True), keys=["name"]))


@register(
    "m3_subtract",
    f"""{PRELUDE},
    avgs AS (SELECT region, ts, (CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / count(value)) AS av FROM samples GROUP BY 1, 2)
    SELECT s.name, s."user", s.region, s.shard, s.ts,
           {sql_quant('s.value - t.av')} AS value
    FROM samples s JOIN avgs t ON s.region = t.region AND s.ts = t.ts""",
)
def m3_subtract(spark, sf_dir):
    sf = _fetch(spark, sf_dir)
    return _out(binary.subtract(sf, grouping.avg(sf, ["region"], exact=True), keys=["region"]))


@register(
    "m3_as_percent",
    f"""{PRELUDE},
    totals AS (SELECT name, ts, CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS tv FROM samples GROUP BY 1, 2)
    SELECT s.name, s."user", s.region, s.shard, 'ratios' AS type, s.ts,
           {sql_quant("CASE WHEN t.tv = 0 THEN 'NaN'::DOUBLE ELSE 100.0 * s.value / t.tv END")} AS value
    FROM samples s JOIN totals t ON s.name = t.name AND s.ts = t.ts""",
)
def m3_as_percent(spark, sf_dir):
    sf = _fetch(spark, sf_dir)
    out = binary.as_percent(sf, grouping.sum_(sf, ["name"], exact=True), keys=["name"])
    return _out(out, LABEL_KEYS + ["type"])


@register(
    "m3_intersect",
    f"""{PRELUDE}{_STATS_CTE}
    SELECT s.name, s."user", s.region, s.shard, s.ts, {sql_quant('s.value')} AS value
    FROM samples s JOIN ranked r
      ON s.name=r.name AND s."user"=r."user" AND s.region=r.region AND s.shard=r.shard
    WHERE r.rnk <= 5""",
)
def m3_intersect(spark, sf_dir):
    """intersect — left semi-join on series identity against the top-5
    frame (IntersectStage.java:38)."""
    sf = _fetch(spark, sf_dir)
    top = ordering.top_k(sf, 5, "avg", descending=True)
    return _out(binary.intersect(sf, top))


@register(
    "m3_union",
    f"""{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value
    FROM samples WHERE name IN ('error', 'click')""",
)
def m3_union(spark, sf_dir):
    a = _fetch(spark, sf_dir, where=F.col("name") == "error")
    b = _fetch(spark, sf_dir, where=F.col("name") == "click")
    return _out(binary.union([a, b]))


@register(
    "m3_fallback_series",
    f"{PRELUDE} SELECT {SQL_LBLS}, ts, {sql_quant('value')} AS value FROM samples",
)
def m3_fallback_series(spark, sf_dir):
    """fallbackSeries — empty left (impossible filter) falls back to right."""
    left = filters.value_filter(_fetch(spark, sf_dir), "gt", 1e15)
    right = _fetch(spark, sf_dir)
    return _out(binary.fallback_series(left, right))


@register(
    "m3_fallback_constant",
    f"""SELECT 42.0::DOUBLE AS value, gs AS ts
    FROM generate_series({EVENTS_MIN_TS}, {EVENTS_MAX_TS - DEFAULT_STEP_MS},
                         {DEFAULT_STEP_MS}) t(gs)""",
)
def m3_fallback_constant(spark, sf_dir):
    """fallbackSeries 42 (unary) — empty input falls back to one constant
    dense series on the query grid — FallbackSeriesUnaryStage.java:40."""
    empty = filters.value_filter(_fetch(spark, sf_dir), "gt", 1e15)
    sf = binary.fallback_constant(empty, 42.0)
    return sf.df.select(F.col("value"), F.col("ts"))


# ---------------------------------------------------------------------------
# label / metadata stages
# ---------------------------------------------------------------------------

@register(
    "m3_alias",
    f"""{PRELUDE} SELECT {SQL_LBLS}, name || '-' || region AS alias, ts,
    {sql_quant('value')} AS value FROM samples""",
)
def m3_alias(spark, sf_dir):
    sf = labels_ops.alias(_fetch(spark, sf_dir), "{{.name}}-{{.region}}")
    return sf.df.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        F.col("alias"),
        F.col("ts"),
        quant(F.col("value")).alias("value"),
    )


@register(
    "m3_alias_by_tags",
    f"""{PRELUDE} SELECT {SQL_LBLS}, name || ' ' || "user" AS alias, ts,
    {sql_quant('value')} AS value FROM samples""",
)
def m3_alias_by_tags(spark, sf_dir):
    sf = labels_ops.alias_by_tags(_fetch(spark, sf_dir), ["name", "user"])
    return sf.df.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        F.col("alias"),
        F.col("ts"),
        quant(F.col("value")).alias("value"),
    )


@register(
    "m3_show_tags",
    f"""{PRELUDE} SELECT {SQL_LBLS},
    'name:' || name || ' region:' || region || ' shard:' || shard || ' user:' || "user" AS alias,
    ts, {sql_quant('value')} AS value FROM samples""",
)
def m3_show_tags(spark, sf_dir):
    sf = labels_ops.show_tags(_fetch(spark, sf_dir))
    return sf.df.select(
        *[F.col("labels")[k].alias(k) for k in LABEL_KEYS],
        F.col("alias"),
        F.col("ts"),
        quant(F.col("value")).alias("value"),
    )


@register(
    "m3_map_key",
    f"""{PRELUDE} SELECT name, "user", region AS dc, shard, ts,
    {sql_quant('value')} AS value FROM samples""",
)
def m3_map_key(spark, sf_dir):
    sf = labels_ops.map_key(_fetch(spark, sf_dir), "region", "dc")
    return _out(sf, ["name", "user", "dc", "shard"])


@register(
    "m3_tag_sub",
    f"""{PRELUDE} SELECT name, "user", regexp_replace(region, 'r(\\d)', 'region-\\1') AS region,
    shard, ts, {sql_quant('value')} AS value FROM samples""",
)
def m3_tag_sub(spark, sf_dir):
    sf = labels_ops.tag_sub(_fetch(spark, sf_dir), "region", r"r(\d)", "region-$1")
    return _out(sf)


# ---------------------------------------------------------------------------
# extended catalogs (registered on import; placed last so `register`,
# `quant`, `sql_quant` above are defined when they import back)
# ---------------------------------------------------------------------------

from time_series_db_spark import catalog_pipeline as _catalog_pipeline  # noqa: E402,F401
from time_series_db_spark import catalog_tpch as _catalog_tpch  # noqa: E402,F401

from time_series_db_spark import catalog_m3ql as _catalog_m3ql  # noqa: E402,F401
from time_series_db_spark import catalog_promql as _catalog_promql  # noqa: E402,F401
from time_series_db_spark import catalog_stats as _catalog_stats  # noqa: E402,F401


# ---------------------------------------------------------------------------
# recording rules (streaming/rules.py — batch leg differential)
# ---------------------------------------------------------------------------

_RULE_RES = 2 * DEFAULT_STEP_MS


@register(
    "recording_rule_batch",
    f"""{PRELUDE}
    SELECT 'name:region:error:max,region:' || region AS series_key,
           ts - ts % {_RULE_RES} AS ts,
           {sql_quant('max(value)')} AS value
    FROM samples WHERE name = 'error' GROUP BY 1, 2""",
)
def recording_rule_batch(spark, sf_dir):
    """Recording-rule machinery differential (streaming/rules.py): the
    batch leg (= promtool rule backfill) applied to the events store —
    tag match, group_by label selection, re-windowing to a coarser
    resolution, and record-name key building. ``max`` is the
    order-insensitive aggregation (sum's exactness is pinned by the
    streaming end-to-end test with exact values instead)."""
    from time_series_db_spark.streaming.rules import apply_rule_frame

    sf = _fetch(spark, sf_dir)
    out = apply_rule_frame(
        sf.df,
        {
            "record": "region:error:max",
            "match": {"name": ["error"]},
            "group_by": ["region"],
            "agg": "max",
            "resolution_ms": _RULE_RES,
        },
    )
    return out.select("series_key", "ts", quant(F.col("value")).alias("value"))


@register(
    "alert_rule_batch",
    f"""{PRELUDE},
    rec AS (
      SELECT region, ts - ts % {_RULE_RES} AS ts, max(value) AS value
      FROM samples WHERE name = 'error' GROUP BY 1, 2),
    breached AS (
      SELECT region, ts,
             CAST(ts / {_RULE_RES} AS BIGINT)
               - row_number() OVER (PARTITION BY region ORDER BY ts) AS island
      FROM rec WHERE value > 60.0),
    runs AS (
      SELECT region, ts,
             count(*) OVER (PARTITION BY region, island ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM breached)
    SELECT 'alertname:HighErrors,alertstate:'
             || CASE WHEN run >= 2 THEN 'firing' ELSE 'pending' END
             || ',region:' || region AS series_key,
           ts, 1.0::DOUBLE AS value
    FROM runs""",
)
def alert_rule_batch(spark, sf_dir):
    """Alert-rule evaluation differential (streaming/rules.py): the
    gaps-and-islands pending/firing state machine over a recorded
    series — DuckDB replays the identical island arithmetic."""
    from time_series_db_spark.streaming.rules import (
        apply_rule_frame,
        evaluate_alert_frame,
    )

    sf = _fetch(spark, sf_dir)
    rule = {
        "record": "region:error:max",
        "match": {"name": ["error"]},
        "group_by": ["region"],
        "agg": "max",
        "resolution_ms": _RULE_RES,
    }
    spec = {
        "alert": "HighErrors",
        "rule": rule,
        "op": ">",
        "threshold": 60.0,
        "for_windows": 2,
    }
    recorded = apply_rule_frame(sf.df, rule)
    return evaluate_alert_frame(recorded, spec).select(
        "series_key", "ts", F.col("value")
    )
