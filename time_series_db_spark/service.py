"""Query service facade — the REST entry points as Python API.

Mirrors the reference's three query surfaces (SURVEY.md §2.3):

- ``m3ql_query_range``  ≈ ``GET/POST /_m3ql`` (query/rest/RestM3QLAction
  .java:116,132-145): params ``query``, ``start`` (default now−5m),
  ``end`` (default now), ``step`` (default 10000 ms, the reference's
  ``index.tsdb_engine.lang.m3.default_step_size`` default), ``explain``.
- ``promql_query_range`` ≈ ``GET/POST /_promql/query_range``
  (RestPromQLAction.java:104).
- ``tsdb_stats``        ≈ ``GET/POST /_tsdb/stats`` (RestTSDBStatsAction
  .java) with ``include`` sections headStats / labelStats / valueStats.

Both query surfaces return the Prometheus matrix response dict
(PromMatrixResponseListener format — output.py). ``explain=True``
returns Spark's formatted physical plan instead of results — the
analog of the reference's ``explain`` translate-only parameter, except
ours shows the *optimized* physical plan Catalyst will run.

The ``pushdown`` toggle has no equivalent knob: stage pushdown is
Catalyst's partial aggregation / predicate pushdown, which is not
user-disableable (and never changes results; the reference exposes the
flag only for its own differential testing, SURVEY.md §5 layer 4 — our
differential gate is the DuckDB oracle instead).
"""

from __future__ import annotations

import time
from typing import Any

from time_series_db_spark import cache
from time_series_db_spark.output import QueryLimitError, to_matrix

DEFAULT_STEP_MS = 10_000  # RestM3QLAction default step (params javadoc :1-70)
DEFAULT_LOOKBACK_MS = 5 * 60_000  # start default: now-5m


def _answer(scope: str, build, shape, explain: bool = False, profiler=None):
    """Build a query's frame (``build()``) under its cache scope and
    return its response (``shape(sf)``), or its formatted physical plan
    when ``explain``.  Inside the scope the response table is memoised:
    a re-issued query still builds its plan (its sources note their
    listings), then shapes the held table without a Spark job.  On the
    way out the caller is back in the anonymous scope, so a direct
    ``to_matrix`` afterwards memoises nothing under this query's name."""
    cache.set_scope(scope)
    try:
        sf = build()
        if explain:
            return sf.df._sc._jvm.PythonSQLUtils.explainString(
                sf.df._jdf.queryExecution(), "formatted"
            )
        resp = shape(sf)
        if profiler is not None:
            resp["profile"] = {"stages": profiler.stages}
            profiler.release()
        # response shaped — release the persists, probe memos and response
        # tables of the queries outside the cache's warm window of recent
        # scopes; the ones inside stay, so a dashboard re-issuing a panel
        # answers from its scope and skips its probe and collect jobs
        cache.release_others()
        return resp
    finally:
        cache.set_scope("")


def _resolve_times(
    start: int | None, end: int | None, now_ms: int | None, step: int = 1
) -> tuple[int, int]:
    # fail fast at the API boundary — a non-positive step otherwise
    # reaches the grid arithmetic and dies executor-side with an ANSI
    # REMAINDER_BY_ZERO (step=0) or silently degenerates (step<0),
    # where Prometheus returns bad_data for step <= 0
    if step <= 0:
        raise ValueError(f"step must be a positive duration, got {step}")
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    e = end if end is not None else now
    s = start if start is not None else e - DEFAULT_LOOKBACK_MS
    if s >= e:
        raise ValueError(f"start ({s}) must precede end ({e})")
    return s, e


def m3ql_query_range(
    source,
    query: str,
    start: int | None = None,
    end: int | None = None,
    step: int = DEFAULT_STEP_MS,
    *,
    explain: bool = False,
    profile: bool = False,
    include_metadata: bool = True,
    now_ms: int | None = None,
    resolved_partitions: list[dict] | None = None,
    pushdown: bool = True,
    spark=None,
    max_series: int | None = None,
    max_points: int | None = None,
) -> dict[str, Any] | str:
    """Execute an M3QL pipeline query over ``source`` and return the
    matrix response (or the physical plan when ``explain``).

    ``pushdown`` is accepted for wire parity with the reference's
    RestM3QLAction param (its differential-testing toggle); results never
    depend on it there, and Catalyst's pushdown is not user-disableable
    here — ``pushdown=False`` is therefore a validated no-op (our
    differential gate is the DuckDB oracle instead, SURVEY.md §5).

    ``profile=True`` appends a ``profile`` block with per-stage wall time
    and output sample counts — the reference's ``profile`` REST param
    (RestM3QLAction.java:206, StageProfiler.java:30, surfaced via
    ProfileInfoMapper's ``stages``). ``include_metadata`` gates the
    per-series step/start/end fields (RestM3QLAction.java:207; REST
    default false — ours defaults true for API compatibility with the
    matrix helpers, pass False for wire parity).

    ``max_series`` / ``max_points`` are the reference's reduce-phase
    circuit-breaker semantics (ReduceCircuitBreakerConsumer.java): a
    query matching more series / producing more sample points than the
    cap raises :class:`QueryLimitError` instead of OOMing the driver.
    With ``max_points`` the response collect reads at most
    ``max_points + 1`` rows; ``max_series`` alone runs a memoised series
    count first (:func:`~time_series_db_spark.output.to_matrix`).

    ``resolved_partitions`` mirrors the REST body param
    (RestM3QLAction + ResolvedPartitions): a list of window dicts
    ``{"partition": "cluster:path-or-name", "start": ms, "end": ms}``.
    When given (``spark`` required), the query runs over a
    :class:`~time_series_db_spark.sources.federation
    .FederatedEventsSource` built from those windows, overriding
    ``source`` — the same precedence the REST API applies to its
    ``partitions`` URL param.
    """
    from time_series_db_spark.lang.m3.builder import execute

    if not isinstance(pushdown, bool):
        raise ValueError("pushdown must be a boolean")
    if resolved_partitions:
        from time_series_db_spark.sources.federation import (
            FederatedEventsSource,
            Partition,
        )

        if spark is None:
            raise ValueError("resolved_partitions requires spark=")
        source = FederatedEventsSource(spark, [
            Partition(
                path=w["partition"].rsplit(":", 1)[-1],
                start_ms=int(w["start"]),
                end_ms=int(w["end"]),
                name=w["partition"],
            )
            for w in resolved_partitions
        ])
    s, e = _resolve_times(start, end, now_ms, step)
    profiler = None
    if profile and not explain:
        from time_series_db_spark.lang.m3.builder import StageProfiler

        profiler = StageProfiler()
    return _answer(
        f"m3ql:{query}",
        lambda: execute(query, source, s, e, step, profiler=profiler),
        lambda sf: to_matrix(
            sf, include_metadata=include_metadata, include_alias=True,
            max_series=max_series, max_points=max_points,
        ),
        explain, profiler,
    )


def promql_query_range(
    source,
    query: str,
    start: int | None = None,
    end: int | None = None,
    step: int = DEFAULT_STEP_MS,
    *,
    explain: bool = False,
    profile: bool = False,
    include_metadata: bool = True,
    now_ms: int | None = None,
    max_series: int | None = None,
    max_points: int | None = None,
) -> dict[str, Any] | str:
    """Execute a PromQL query_range over ``source`` → matrix response.

    The promql surface never emits the alias field
    (RestPromQLAction.java:234 passes includeAlias=false);
    ``profile`` / ``include_metadata`` as in :func:`m3ql_query_range`
    (RestPromQLAction.java:232-233 threads the same params)."""
    from time_series_db_spark.lang.prom.builder import execute

    s, e = _resolve_times(start, end, now_ms, step)
    profiler = None
    if profile and not explain:
        from time_series_db_spark.lang.m3.builder import StageProfiler

        profiler = StageProfiler()
    return _answer(
        f"promql:{query}",
        lambda: execute(query, source, s, e, step, profiler=profiler),
        lambda sf: to_matrix(
            sf, include_metadata=include_metadata, include_alias=False,
            max_series=max_series, max_points=max_points,
        ),
        explain, profiler,
    )


def promql_query(
    source,
    query: str,
    time_ms: int | None = None,
    step: int = DEFAULT_STEP_MS,
    *,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
    now_ms: int | None = None,
    max_series: int | None = None,
    max_points: int | None = None,
) -> dict[str, Any]:
    """Prometheus instant query (``/api/v1/query``): evaluate ``query``
    at the single instant ``time_ms`` (default: now) → vector response.

    Beyond the reference (RestPromQLAction only exposes query_range);
    semantics follow the Prometheus HTTP API: the expression is
    evaluated on a grid covering the ``lookback_ms`` window (default
    5 minutes, Prometheus's lookback-delta) ending at
    ``time_ms``, and each series reports its most recent emission at or
    before the instant (Prometheus's staleness/lookback rule under this
    engine's grid semantics — the same rule :func:`…builder.resolve_at`
    applies to ``@`` modifiers). Range functions read their full window
    ending at each grid point as usual.
    """
    from time_series_db_spark.lang.prom.builder import execute
    from time_series_db_spark.output import to_vector

    if step <= 0:
        raise ValueError(f"step must be a positive duration, got {step}")
    if lookback_ms <= 0:
        raise ValueError(
            f"lookback must be a positive duration, got {lookback_ms}"
        )
    t = time_ms if time_ms is not None else (
        now_ms if now_ms is not None else int(time.time() * 1000)
    )
    return _answer(
        f"promql-instant:{query}",
        lambda: execute(query, source, t - lookback_ms, t + step, step),
        lambda sf: to_vector(sf, t, max_series=max_series, max_points=max_points),
    )


#: Java String header overhead the reference's memory estimate charges
#: per string (TSDBStatsResponseListener.formatFlatResponse)
_STRING_HEADER_BYTES = 24


def _flat_stats(sf, include: tuple[str, ...]) -> dict[str, Any]:
    """``format=flat`` shaping — TSDBStatsResponseListener
    .formatFlatResponse: grouped label data as sorted name/value arrays.
    All four arrays derive from ONE (label, value, num_series) aggregate
    (operators.stats.label_value_stats), collected once.  Sort order is
    value-descending with a name-ascending tie-break (the reference's
    stable sort over hash-map iteration leaves ties JVM-dependent; ours
    is deterministic by contract)."""
    from time_series_db_spark.operators import stats as S

    out: dict[str, Any] = {}
    if "headStats" in include:
        r = S.head_stats(sf).first()
        out["headStats"] = {
            "numSeries": r["num_series"],
            "numSamples": r["num_samples"],
            "minTimestamp": r["min_timestamp"],
            "maxTimestamp": r["max_timestamp"],
        }
    if "labelStats" not in include:
        return out

    rows = S.label_value_stats(sf).collect()

    def _arr(pairs):
        return [
            {"name": n, "value": v}
            for n, v in sorted(pairs, key=lambda p: (-p[1], p[0]))
        ]

    out["seriesCountByMetricName"] = _arr(
        [(r["val"], r["num_series"]) for r in rows if r["label"] == "name"]
    )
    by_label: dict[str, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    out["labelValueCountByLabelName"] = _arr(
        [(lbl, len(vs)) for lbl, vs in by_label.items()]
    )
    # Prometheus-style memory estimate: (UTF-16 chars + header) per name
    # and value string, weighted by the series carrying the pair
    out["memoryInBytesByLabelName"] = _arr(
        [
            (
                lbl,
                sum(
                    (
                        (len(lbl) * 2 + _STRING_HEADER_BYTES)
                        + (len(r["val"]) * 2 + _STRING_HEADER_BYTES)
                    )
                    * r["num_series"]
                    for r in vs
                ),
            )
            for lbl, vs in by_label.items()
        ]
    )
    if "valueStats" in include:
        out["seriesCountByLabelValuePair"] = _arr(
            [(f"{r['label']}={r['val']}", r["num_series"]) for r in rows]
        )
    return out


def tsdb_stats(
    sf,
    include: tuple[str, ...] = ("headStats", "labelStats", "valueStats"),
    format: str = "grouped",
) -> dict[str, Any]:
    """Stats over a SeriesFrame — the ``/_tsdb/stats`` surface.

    ``format="grouped"`` (default) mirrors the reference's
    InternalTSDBStats sections; ``format="flat"`` the sorted
    name/value-array shape (RestTSDBStatsAction ``format`` param,
    VALID_FORMAT_OPTIONS = {grouped, flat})."""
    from time_series_db_spark.operators import stats as S

    if format not in ("grouped", "flat"):
        raise ValueError(f"format must be grouped or flat, got {format!r}")
    if format == "flat":
        return _flat_stats(sf, include)

    out: dict[str, Any] = {}
    if "headStats" in include:
        r = S.head_stats(sf).first()
        out["headStats"] = {
            "numSeries": r["num_series"],
            "numSamples": r["num_samples"],
            "minTimestamp": r["min_timestamp"],
            "maxTimestamp": r["max_timestamp"],
        }
    if "labelStats" in include:
        out["labelStats"] = {
            r["label"]: r["cardinality"] for r in S.label_stats(sf).collect()
        }
    if "valueStats" in include:
        r = S.value_stats(sf).first()
        out["valueStats"] = {
            "numValues": r["num_values"],
            "numNaN": r["num_nan"],
            "min": r["min_value"],
            "max": r["max_value"],
            "avg": r["avg_value"],
        }
    return out


def _instant_frame(source, match: list[str] | None, start, end, now_ms):
    """Union the selectors in ``match`` (PromQL selector strings; None →
    match-all fetch) over [start, end) — shared by the metadata
    endpoints. Each selector builds through the normal PromQL path, so
    regex/negation semantics are exactly the query path's."""
    from time_series_db_spark.lang.prom.builder import execute

    s, e = _resolve_times(start, end, now_ms)
    step = e - s  # one grid bucket: metadata needs presence, not shape
    frames = []
    for sel in (match or ["{__name__=~\".+\"}"]):
        frames.append(execute(sel, source, s, e, step).df)
    df = frames[0]
    for other in frames[1:]:
        df = df.unionByName(other)
    return df


def prom_labels(
    source,
    match: list[str] | None = None,
    start: int | None = None,
    end: int | None = None,
    *,
    now_ms: int | None = None,
) -> dict[str, Any]:
    """Prometheus ``GET /api/v1/labels`` — sorted label names present on
    series matching any of the ``match[]`` selectors in the time range.

    Beyond the reference's stats surface (RestTSDBStatsAction exposes
    cardinalities, not the names-list wire shape). Distributed shape:
    one scan → explode(map_keys) → distinct — an aggregation over label
    names only, never a collect of series."""
    from pyspark.sql import functions as F

    df = _instant_frame(source, match, start, end, now_ms)
    rows = (
        df.select(F.explode(F.map_keys(F.col("labels"))).alias("l"))
        .distinct()
        .collect()
    )
    return {"status": "success", "data": sorted(r["l"] for r in rows)}


def prom_label_values(
    source,
    label: str,
    match: list[str] | None = None,
    start: int | None = None,
    end: int | None = None,
    *,
    now_ms: int | None = None,
) -> dict[str, Any]:
    """Prometheus ``GET /api/v1/label/<label>/values`` — sorted distinct
    values of one label over matching series in the time range."""
    from pyspark.sql import functions as F

    if not label:
        raise ValueError("label name must be non-empty")
    df = _instant_frame(source, match, start, end, now_ms)
    rows = (
        df.select(F.col("labels")[label].alias("v"))
        .filter(F.col("v").isNotNull())
        .distinct()
        .collect()
    )
    return {"status": "success", "data": sorted(r["v"] for r in rows)}


def prom_series(
    source,
    match: list[str],
    start: int | None = None,
    end: int | None = None,
    *,
    now_ms: int | None = None,
) -> dict[str, Any]:
    """Prometheus ``GET /api/v1/series`` — the label sets of series
    matching any ``match[]`` selector in the range. ``match[]`` is
    required (as in Prometheus). One distinct over series identity —
    the per-series row count never reaches the driver, only the
    distinct label sets (bounded by series cardinality, the same bound
    the reference's coordinator holds in memory)."""
    from pyspark.sql import functions as F

    if not match:
        raise ValueError("prom_series requires at least one match[] selector")
    df = _instant_frame(source, match, start, end, now_ms)
    # distinct on the scalar series_key (map columns don't support set
    # ops); the labels map is functionally dependent on the key
    rows = (
        df.groupBy("series_key").agg(F.first("labels").alias("labels")).collect()
    )
    uniq = {r["series_key"]: dict(r["labels"]) for r in rows}
    return {
        "status": "success",
        "data": [uniq[k] for k in sorted(uniq)],
    }


def prom_rules(
    spark,
    rule_specs: list[dict],
    alert_specs: list[dict],
    alerts_path: str | None = None,
    *,
    now_ms: int | None = None,
    staleness_windows: int = 2,
) -> dict[str, Any]:
    """Prometheus ``GET /api/v1/rules`` — one group listing the
    configured recording and alerting rules, with each alert's ACTIVE
    state read from the alerts store: the latest recorded ALERTS row per
    alert series (pending/firing + its labels and window timestamp),
    restricted to a staleness horizon of ``staleness_windows`` rule
    resolutions before ``now_ms``. Prometheus ALERTS semantics are
    "value 1 while active, absent otherwise" — an alert whose last row
    is older than the horizon has stopped emitting, i.e. RESOLVED, and
    must report inactive, not pending/firing forever. An alert with no
    in-horizon series reports ``state: "inactive"``.

    Driver-side data is bounded by the number of ACTIVE alert series
    (the horizon filter prunes the scan BEFORE the max_by aggregation,
    which runs cluster-side), matching the Prometheus endpoint's own
    payload shape.
    """
    import time as _time

    from pyspark.sql import functions as F

    from time_series_db_spark.streaming.rules import compile_alert, compile_rule

    if now_ms is None:
        now_ms = int(_time.time() * 1000)
    groups: list[dict] = []
    recording = [
        {
            "name": r["record"],
            "type": "recording",
            "query": {k: v for k, v in r.items() if k != "record"},
            "health": "ok",
        }
        for r in (compile_rule(s) for s in rule_specs)
    ]
    compiled_alerts = [compile_alert(s) for s in alert_specs]
    # per-alert staleness horizon: k evaluation windows of its OWN rule
    # resolution (window ts is the window START, so one closed window
    # plus one evaluation delay is the natural "still being emitted"
    # bound); the scan-side filter uses the loosest horizon, the exact
    # per-alert cutoff is applied to the collected (active-sized) rows
    horizon = {
        a["alert"]: int(staleness_windows) * a["rule"]["resolution_ms"]
        for a in compiled_alerts
    }
    active_by_alert: dict[str, list[dict]] = {}
    if alerts_path is not None and alert_specs:
        import os

        if os.path.exists(alerts_path):
            from time_series_db_spark.model import series_key_expr

            # one alert instance = the label set MINUS alertstate (the
            # state is a property of the instance, not its identity)
            ident = series_key_expr(
                F.map_filter(
                    F.col("labels"), lambda k, _v: k != F.lit("alertstate")
                )
            )
            latest = (
                spark.read.parquet(alerts_path)
                .filter(F.col("ts") >= F.lit(now_ms - max(horizon.values())))
                .withColumn("__ident", ident)
                .groupBy("__ident")
                .agg(
                    F.expr("max_by(labels, ts)").alias("labels"),
                    F.max("ts").alias("ts"),
                )
                .collect()
            )
            for r in latest:
                labels = dict(r["labels"])
                name = labels.get("alertname")
                if r["ts"] < now_ms - horizon.get(name, 0):
                    continue  # stale — stopped emitting, i.e. resolved
                active_by_alert.setdefault(name, []).append(
                    {
                        "labels": labels,
                        "state": labels.get("alertstate"),
                        "activeAt": r["ts"],
                        "value": "1",
                    }
                )
    alerting = []
    for spec in compiled_alerts:
        alerts = active_by_alert.get(spec["alert"], [])
        state = "inactive"
        if any(a["state"] == "firing" for a in alerts):
            state = "firing"
        elif alerts:
            state = "pending"
        alerting.append(
            {
                "name": spec["alert"],
                "type": "alerting",
                "state": state,
                "alerts": sorted(alerts, key=lambda a: sorted(a["labels"].items())),
                "labels": spec["labels"],
                "health": "ok",
            }
        )
    groups.append(
        {"name": "default", "rules": recording + alerting}
    )
    return {"status": "success", "data": {"groups": groups}}


def prom_format_query(query: str) -> dict[str, Any]:
    """Prometheus 3 ``GET /api/v1/format_query`` — parse the expression
    and return its canonical pretty-printed form (the reference grammar
    has no printer; format is lang/prom/fmt.py's round-trip-faithful
    canonicalization).  Parse failures return the Prometheus error
    envelope instead of raising."""
    from time_series_db_spark.lang.prom.fmt import format_query
    from time_series_db_spark.lang.prom.parser import PromParseError

    try:
        return {"status": "success", "data": format_query(query)}
    except PromParseError as e:
        return {"status": "error", "errorType": "bad_data", "error": str(e)}


def prom_parse_query(query: str) -> dict[str, Any]:
    """Prometheus 3 ``GET /api/v1/parse_query`` — the expression's AST
    as JSON (node type + scalar fields + recursive children)."""
    from time_series_db_spark.lang.prom.fmt import parse_query
    from time_series_db_spark.lang.prom.parser import PromParseError

    try:
        return {"status": "success", "data": parse_query(query)}
    except PromParseError as e:
        return {"status": "error", "errorType": "bad_data", "error": str(e)}
