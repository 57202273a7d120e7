"""M3QL plan → SeriesFrame builder — the Spark "physical planner".

Where the reference's SourceBuilderVisitor emits OpenSearch DSL with an
unfold/coordinator split (SURVEY.md §3.1), this builder emits DataFrame
operator calls and lets Catalyst do the physical planning. The planner
concerns that remain ours (SURVEY.md §4.1 rows 7-9):

- **CSE**: identical fetches reuse the same SeriesFrame object (keyed by
  the fetch's filter signature), so Catalyst sees one scan subtree and
  can reuse the exchange.
- **Window widening + truncate**: look-back stages (moving,
  perSecondRate, summarize-with-alignment) extend each upstream fetch's
  scan window; the final frame is truncated back to [start, end) —
  TruncateStage semantics (SourceBuilderVisitor.java:331-339).
- **Timeshift** additionally shifts the scan window of the fetches
  below it (SourceBuilderVisitor.java:780-794).

The tag-filter → column-predicate compilation lives in the source
(sources/m3source.py) so label predicates reach the parquet scan as
PushedFilters.
"""

from __future__ import annotations

from typing import Protocol

from time_series_db_spark.lang.m3 import plan as P
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


class M3Source(Protocol):
    """Data source contract for ``fetch`` — implemented by EventsSource
    (driver testdata) and the metrics-table source.

    A ``fetch`` over stored files reports the listing it read through
    :func:`~time_series_db_spark.cache.note_inputs`.  The query cache
    relies on it for freshness: a changed listing releases the warm
    scopes built on the old files, and a query whose build noted no
    listing gets no memoised response."""

    def fetch(
        self,
        match: dict[str, list[str]],
        inverse: dict[str, list[str]],
        min_ts: int,
        max_ts: int,
        step: int,
    ) -> SeriesFrame: ...

    def mock_fetch(
        self, values: list[float], tags: dict[str, str],
        min_ts: int, max_ts: int, step: int,
    ) -> SeriesFrame: ...


class StageProfiler:
    """``profile:true`` surface — the StageProfiler.java:30 analog
    (``record(stageName, latency, sampleCount, …)``; surfaced through
    ProfileInfoMapper's ``stages`` debug block; the flag is threaded at
    M3OSTranslator.java:62 / RestM3QLAction.java:206).

    Spark builds lazily, so per-stage timing requires materializing each
    stage once: the stage's frame is persisted, its ``count()`` is timed —
    the incremental wall cost of that stage given already-persisted inputs
    — and downstream stages build on the pinned frame (no upstream
    recompute, so stage times don't telescope). ``release()`` drops the
    pinned frames once the response has been shaped. Profiling therefore
    changes the physical plan (persist barriers between stages); it is a
    debug surface, off by default, exactly like the reference's.
    """

    def __init__(self):
        self.stages: list[dict] = []
        self._pinned: list = []

    def record(self, name: str, sf: SeriesFrame) -> SeriesFrame:
        import time

        from pyspark import StorageLevel

        df = sf.df.persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.perf_counter()
        rows = df.count()
        self.stages.append({
            "stage": name,
            "output_samples": rows,
            "time_in_millis": round((time.perf_counter() - t0) * 1000.0, 3),
        })
        self._pinned.append(df)
        return sf.with_df(df)

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()


def _stage_name(node: P.PlanNode) -> str:
    if isinstance(node, (P.MapperNode, P.BinaryNode)):
        return node.kind
    if isinstance(node, P.AggregationNode):
        return node.agg_type.lower()
    n = type(node).__name__
    return n[: -len("Node")].lower() if n.endswith("Node") else n.lower()


class BuildContext:
    def __init__(
        self,
        source: M3Source,
        start: int,
        end: int,
        step: int,
        profiler: StageProfiler | None = None,
    ):
        self.source = source
        self.start = start
        self.end = end
        self.step = step
        self.profiler = profiler
        self._fetch_cache: dict[str, SeriesFrame] = {}

    def fetch(self, node: P.FetchNode, buffer_ms: int, shift_ms: int) -> SeriesFrame:
        key = repr((sorted(node.match.items()), sorted(node.inverse.items()),
                    buffer_ms, shift_ms))
        if key not in self._fetch_cache:
            sf = self.source.fetch(
                node.match,
                node.inverse,
                self.start - buffer_ms - shift_ms,
                self.end - shift_ms,
                self.step,
            )
            if self.profiler is not None:
                sf = self.profiler.record("fetch", sf)
            self._fetch_cache[key] = sf
        return self._fetch_cache[key]


def _lookback_ms(node: P.PlanNode, step: int) -> int:
    """Scan-window buffer this node needs from its inputs."""
    if isinstance(node, P.MovingNode):
        return _window_ms(node.window, step)
    if isinstance(node, P.MovingPercentileNode):
        return _window_ms(node.window, step)
    if isinstance(node, P.PerSecondRateNode):
        return P.parse_duration_ms(node.interval) + step  # +1 step for the lag
    if isinstance(node, P.BurnRateNode):
        # both sides feed perSecondRate over the burn window
        return P.parse_duration_ms(node.window) + step
    if isinstance(node, P.MultiBurnRateNode):
        # widest window dominates the scan adjustment
        return max(P.parse_duration_ms(w) for w in node.windows) + step
    if isinstance(node, P.AsMultiBurnRateNode):
        # widest moving-average window
        return max(P.parse_duration_ms(w) for w in node.windows)
    if isinstance(node, (P.DerivativeNode, P.PerSecondNode)):
        return step
    if isinstance(node, P.SummarizeNode) and not node.align_to_from:
        return P.parse_duration_ms(node.interval)
    return 0


def _window_ms(spec: str, step: int) -> int:
    """Moving windows accept durations ("5m") or point counts ("10")."""
    try:
        return int(float(spec)) * step
    except ValueError:
        return P.parse_duration_ms(spec)


def build_frame(
    node: P.PlanNode, ctx: BuildContext, buffer_ms: int = 0, shift_ms: int = 0
) -> SeriesFrame:
    """Recursively build the SeriesFrame for a plan subtree.

    ``buffer_ms`` accumulates look-back needs from enclosing window
    stages; ``shift_ms`` accumulates timeshift displacement — both are
    applied at the fetch leaves (scan-window adjustment), mirroring
    getAdjustedFetchTimeRange (SourceBuilderVisitor.java:1026-1030).
    """
    child_buffer = buffer_ms + _lookback_ms(node, ctx.step)
    child_shift = shift_ms
    if isinstance(node, P.MapperNode) and node.kind == "timeshift":
        # always-forward: the reference takes the absolute shift value
        # (TimeshiftStage.java:83 Math.absExact), so "timeshift -1m" and
        # "timeshift 1m" both display data from 1m in the past
        child_shift += abs(P.parse_duration_ms(node.param))

    if isinstance(node, P.FetchNode):
        return ctx.fetch(node, buffer_ms, shift_ms)
    if isinstance(node, P.ConstantLineNode):
        # generator leaf: the constant over every grid step (mockFetch
        # machinery reused; it emits one value per step from start)
        n_steps = max(1, (ctx.end - ctx.start) // ctx.step)
        sf = ctx.source.mock_fetch(
            [node.value] * n_steps, {"name": "constantLine"},
            ctx.start, ctx.end, ctx.step,
        )
        if ctx.profiler is not None:
            sf = ctx.profiler.record("constantLine", sf)
        return sf
    if isinstance(node, P.MockFetchNode):
        sf = ctx.source.mock_fetch(
            node.values, node.tags, ctx.start, ctx.end, ctx.step
        )
        if ctx.profiler is not None:
            sf = ctx.profiler.record("mockFetch", sf)
        return sf
    if isinstance(
        node,
        (P.MockFetchLineNode, P.MockFetchLinearNode, P.MockFetchPeriodicNode),
    ):
        # generator-variant leaves (Constants.java:58-60): closed-form
        # value per grid step, synthesized through the mockFetch machinery
        # (coordinator-side like MockFetchStage — the value list is grid-
        # sized, the frame itself is a distributed DataFrame)
        import math

        n_steps = max(1, (ctx.end - ctx.start) // ctx.step)
        if isinstance(node, P.MockFetchLineNode):
            name, values = "mockFetchLine", [node.value] * n_steps
        elif isinstance(node, P.MockFetchLinearNode):
            name = "mockFetchLinear"
            values = [node.start + node.slope * i for i in range(n_steps)]
        else:
            name = "mockFetchPeriodic"
            period = P.parse_duration_ms(node.period)
            values = [
                node.amplitude
                * math.sin(2.0 * math.pi * (i * ctx.step) / period)
                for i in range(n_steps)
            ]
        sf = ctx.source.mock_fetch(
            values, node.tags or {"name": name}, ctx.start, ctx.end, ctx.step
        )
        if ctx.profiler is not None:
            sf = ctx.profiler.record(name, sf)
        return sf

    inputs = [
        build_frame(c, ctx, child_buffer, child_shift) for c in node.children
    ]
    out = _apply(node, inputs, ctx)
    if ctx.profiler is not None:
        out = ctx.profiler.record(_stage_name(node), out)
    return out


def _apply(node: P.PlanNode, inputs: list[SeriesFrame], ctx: BuildContext) -> SeriesFrame:
    sf = inputs[0] if inputs else None

    if isinstance(node, P.UnionNode):
        return binary.union(inputs)

    if isinstance(node, P.AggregationNode):
        fn = {
            "SUM": grouping.sum_, "AVG": grouping.avg, "MIN": grouping.min_,
            "MAX": grouping.max_, "COUNT": grouping.count,
            "MULTIPLY": grouping.multiply, "RANGE": grouping.range_,
            "STDDEV": grouping.stddev,
        }[node.agg_type]
        return fn(sf, node.tags)

    if isinstance(node, P.BinaryNode):
        left, right = inputs
        keys = node.tags or None  # [] → auto common-key matching
        if node.kind == "asPercent":
            return binary.as_percent(left, right, keys=keys)
        if node.kind == "diff":
            return binary.subtract(left, right, keys=keys)
        if node.kind == "divide":
            return binary.divide(left, right, keys=keys)
        if node.kind == "intersect":
            return binary.intersect(left, right, keys=keys)
        if node.kind == "fallbackSeries":
            return binary.fallback_series(left, right)
        if node.kind == "setDiff":
            return binary.set_diff(left, right, keys=keys)

    if isinstance(node, P.BurnRateNode):
        # burn = (perSecondRate(errors, w) / perSecondRate(total, w))
        #        / (1 − slo): rate + divide + scale composition — every
        # piece is an existing stage, so the plan inherits their scale
        # shapes (pure window exprs; equi-join with broadcast aggregate)
        left, right = inputs
        w = P.parse_duration_ms(node.window)
        err_rate = windows.per_second_rate(left, w)
        tot_rate = windows.per_second_rate(right, w)
        ratio = binary.divide(err_rate, tot_rate)
        return mappers.scale(ratio, 1.0 / (1.0 - node.slo))

    if isinstance(node, P.DivideWhenNode):
        left, right = inputs
        return binary.divide_when(
            left, right, node.op, node.threshold, keys=node.keys or None
        )

    if isinstance(node, P.MultiBurnRateNode):
        # one BurnRate composition per window over the SAME two input
        # frames (the fetch CSE means the sources scan once), each branch
        # tagged window:<w>, union'd — bag union, no shuffle of its own
        left, right = inputs
        branches = []
        for w in node.windows:
            wms = P.parse_duration_ms(w)
            ratio = binary.divide(
                windows.per_second_rate(left, wms),
                windows.per_second_rate(right, wms),
            )
            burn = mappers.scale(ratio, 1.0 / (1.0 - node.slo))
            branches.append(labels_ops.tag_add(burn, "window", w))
        return binary.union(branches)

    if isinstance(node, P.AsMultiBurnRateNode):
        branches = []
        for w in node.windows:
            wms = _window_ms(w, ctx.step)
            smoothed = windows.moving(sf, wms, "avg")
            burn = mappers.scale(smoothed, 1.0 / (1.0 - node.slo))
            branches.append(labels_ops.tag_add(burn, "window", w))
        return binary.union(branches)

    if isinstance(node, P.MapperNode):
        k, p = node.kind, node.param
        if k == "abs":
            return mappers.abs_(sf)
        if k == "logarithm":
            return mappers.logarithm(sf)
        if k == "sqrt":
            return mappers.sqrt(sf)
        if k == "scale":
            return mappers.scale(sf, p)
        if k == "divideScalar":
            return mappers.divide_scalar(sf, p)
        if k == "offset":
            return mappers.offset(sf, p)
        if k == "round":
            return sf if p < 0 else mappers.round_(sf, int(p))
        if k == "scaleToSeconds":
            return mappers.scale_to_seconds(sf, int(p))
        if k == "timeshift":
            return mappers.timeshift(sf, abs(P.parse_duration_ms(p)))
        if k == "asBurnRate":
            # precomputed error ratio → burn multiple of the error budget
            return mappers.scale(sf, 1.0 / (1.0 - p))

    if isinstance(node, P.ValueFilterNode):
        return filters.value_filter(sf, node.op.lower(), node.value)
    if isinstance(node, P.WhereNode):
        negate = node.op in ("neq", "ne", "!=")
        return filters.where(sf, node.left_tag, node.right_tag, negate=negate)
    if isinstance(node, P.TagCompareNode):
        # symbol operators from the language ("<=") normalize to the
        # operator words; semver mode auto-detects from the literal
        # (TagCompareStage.java:121-128)
        op = {
            "<": "lt", "<=": "le", ">": "gt", ">=": "ge",
            "==": "eq", "!=": "ne",
        }.get(node.op, node.op)
        return filters.tag_compare(
            sf, node.tag, op, node.value, semver=filters.is_semver(node.value)
        )
    if isinstance(node, P.ExcludeByTagNode):
        return filters.exclude_by_tag(sf, node.tag, node.patterns)
    if isinstance(node, P.RemoveEmptyNode):
        return filters.remove_empty(sf)
    if isinstance(node, P.SustainNode):
        return windows.sustain(sf, P.parse_duration_ms(node.duration))
    if isinstance(node, P.IsNonNullNode):
        return windows.is_non_null(sf)

    if isinstance(node, P.MovingNode):
        return windows.moving(sf, _window_ms(node.window, ctx.step), node.agg.lower())
    if isinstance(node, P.MovingPercentileNode):
        return windows.moving_percentile(
            sf, _window_ms(node.window, ctx.step), node.p
        )
    if isinstance(node, P.SummarizeNode):
        fn = node.fn.lower()
        if fn.startswith("p") and fn[1:].replace(".", "", 1).isdigit():
            return windows.summarize(
                sf, P.parse_duration_ms(node.interval), "sum",
                percentile=float(fn[1:]), align_to_from=node.align_to_from,
            )
        return windows.summarize(
            sf, P.parse_duration_ms(node.interval), fn,
            align_to_from=node.align_to_from,
        )
    if isinstance(node, P.DerivativeNode):
        return windows.derivative(sf)
    if isinstance(node, P.PerSecondNode):
        return windows.per_second(sf)
    if isinstance(node, P.PerSecondRateNode):
        return windows.per_second_rate(sf, P.parse_duration_ms(node.interval))
    if isinstance(node, P.IntegralNode):
        return windows.integral(sf, reset_on_gap=node.reset_on_null)
    if isinstance(node, P.ChangedNode):
        return windows.changed(sf)
    if isinstance(node, P.NonNegativeDerivativeNode):
        return windows.non_negative_derivative(sf)
    if isinstance(node, P.RemovePercentileNode):
        return filters.remove_percentile(sf, node.n, above=node.above)
    if isinstance(node, P.AliasSubNode):
        return labels_ops.alias_sub(sf, node.search, node.replace)
    if isinstance(node, P.SustainedFilterNode):
        filtered = filters.value_filter(
            sf, "gt" if node.above else "lt", node.threshold
        )
        return windows.sustain(filtered, P.parse_duration_ms(node.duration))
    if isinstance(node, P.KeepLastValueNode):
        lookback = P.parse_duration_ms(node.lookback) if node.lookback else None
        return windows.keep_last_value(sf, lookback_ms=lookback)
    if isinstance(node, P.TransformNullNode):
        return windows.transform_null(sf, node.fill)

    if isinstance(node, P.SortNode):
        return ordering.sort(sf, node.sort_by, descending=node.order == "desc")
    if isinstance(node, P.TopKNode):
        return ordering.top_k(sf, node.k, node.sort_by, descending=node.order == "desc")
    if isinstance(node, P.HeadNode):
        return ordering.head(sf, node.limit)
    if isinstance(node, P.TailNode):
        return ordering.tail(sf, node.limit)

    if isinstance(node, P.PercentileOfSeriesNode):
        return grouping.percentile_of_series(
            sf, node.percentiles, node.tags or [],
            interpolate=node.interpolate,
        )
    if isinstance(node, P.HistogramPercentileNode):
        return grouping.histogram_percentile(
            sf, node.bucket_id, node.bucket_range, node.percentiles
        )
    if isinstance(node, P.PromHistogramPercentileNode):
        return grouping.prom_histogram_percentile(sf, node.percentiles)

    if isinstance(node, P.AliasNode):
        return labels_ops.alias(sf, node.alias)
    if isinstance(node, P.AliasByTagsNode):
        return labels_ops.alias_by_tags(sf, node.tags)
    if isinstance(node, P.ShowTagsNode):
        return labels_ops.show_tags(sf, node.tags or None)
    if isinstance(node, P.MapKeyNode):
        return labels_ops.map_key(sf, node.old, node.new)
    if isinstance(node, P.TagSubNode):
        return labels_ops.tag_sub(sf, node.tag, node.search, node.replace)

    if isinstance(node, P.FallbackSeriesConstantNode):
        return binary.fallback_constant(sf, node.constant)

    if isinstance(node, P.NPercentileNode):
        return filters.n_percentile(sf, node.n)
    if isinstance(node, P.TopKPerTimestampNode):
        return ordering.top_k_per_timestamp(sf, node.k)
    if isinstance(node, P.TagAddNode):
        return labels_ops.tag_add(sf, node.key, node.value)
    if isinstance(node, P.ToHistogramLinearBucketsNode):
        return grouping.to_histogram_linear_buckets(
            sf, node.start, node.width, node.count
        )
    if isinstance(node, P.AnomaliesNode):
        return windows.anomalies(sf, node.threshold)
    if isinstance(node, P.ChangepointsNode):
        return windows.cusum_changepoints(sf, node.threshold, node.slack)
    if isinstance(node, P.InterpolateNode):
        return windows.interpolate(sf, node.limit)
    if isinstance(node, P.EwmaNode):
        return windows.ewma(sf, node.n, node.alpha)
    if isinstance(node, P.SeasonalAdjustNode):
        if node.season_ms is None:
            return windows.seasonal_adjust_auto(
                sf, output=node.output, per_series=node.per_series
            )
        return windows.seasonal_adjust(
            sf, node.season_ms, node.bucket_ms, node.output
        )
    if isinstance(node, P.SeasonalDecomposeNode):
        from pyspark.sql import functions as F

        out = windows.seasonal_decompose(
            sf, node.season_ms, node.bucket_ms
        )
        # slice ONE component back into the series pipeline; rows where
        # the component is undefined (textbook trend edges, empty
        # phases) become ABSENT samples, the engine-wide null contract
        df = (
            out.filter(F.col(node.component).isNotNull())
            .select(
                "series_key", "labels", "alias", "ts",
                F.col(node.component).alias("value"),
            )
        )
        return sf.with_df(df)
    if isinstance(node, P.RollingCorrNode):
        from time_series_db_spark.operators import stats as _stats

        return _stats.rolling_corr_target(
            sf, node.target, node.window_buckets, node.min_points
        )
    if isinstance(node, P.ForecastNode):
        return windows.forecast(
            sf, node.horizon, node.season_ms, drift=node.drift
        )
    if isinstance(node, P.DecimateNode):
        fn = (
            windows.decimate
            if node.method == "minmax"
            else windows.decimate_lttb
        )
        return fn(sf, node.bucket_ms)
    if isinstance(node, P.ShowAnomalyThresholdsNode):
        return windows.show_anomaly_thresholds(sf, node.threshold)
    if isinstance(node, P.TimestampNode):
        return mappers.timestamp_(sf)
    if isinstance(node, P.HistogramCDFNode):
        return grouping.histogram_cdf(
            sf, node.bucket_id, node.bucket_range, node.thresholds
        )
    if isinstance(node, P.ToHistogramNode):
        return grouping.to_histogram(sf, node.bounds)
    if isinstance(node, P.AliasByBucketNode):
        return labels_ops.alias_by_bucket(
            sf, node.bucket_range, histogram=node.histogram
        )
    if isinstance(node, P.AliasByDistinctTagsNode):
        return labels_ops.alias_by_distinct_tags(sf)
    if isinstance(node, P.SummarizeByNode):
        agg_fn = {
            "SUM": grouping.sum_, "AVG": grouping.avg, "MIN": grouping.min_,
            "MAX": grouping.max_, "COUNT": grouping.count,
            "STDDEV": grouping.stddev,
        }[node.fn]
        agged = agg_fn(sf, node.tags)
        # COUNT per-step series counts SUM up to per-bucket sample counts
        time_fn = "sum" if node.fn == "COUNT" else node.fn.lower()
        return windows.summarize(
            agged, P.parse_duration_ms(node.interval), time_fn
        )

    raise P.M3PlanError(f"no builder for plan node {type(node).__name__}")


def _walk(node: P.PlanNode):
    yield node
    for c in node.children:
        yield from _walk(c)


def execute(
    query: str,
    source: M3Source,
    start: int,
    end: int,
    step: int,
    profiler: StageProfiler | None = None,
) -> SeriesFrame:
    """Parse, plan, build and (conditionally) truncate — the full M3QL
    query lifecycle.

    Truncation mirrors the reference exactly: a TruncateStage is added
    ONLY when the pipeline contains a scan-widening window stage
    (moving / perSecondRate — SourceBuilderVisitor.java:528,596 set
    needsTruncation), and summarize with alignToFrom=false lowers the
    truncate start to its Go-zero bucket boundary so the partial first
    bucket survives (SourceBuilderVisitor.java:682-694). Pipelines
    without those stages return the untruncated frame — e.g. mockFetch
    values extending past the query end stay in the result
    (MockFetchStage emits all values unclipped).
    """
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import build_plan

    plan = build_plan(parse(query))
    ctx = BuildContext(source, start, end, step, profiler=profiler)
    sf = build_frame(plan, ctx)
    nodes = list(_walk(plan))
    needs_truncation = any(
        isinstance(
            n,
            (
                P.MovingNode,
                P.MovingPercentileNode,
                P.PerSecondRateNode,
                P.BurnRateNode,
                P.MultiBurnRateNode,
                P.AsMultiBurnRateNode,
            ),
        )
        for n in nodes
    )
    if not needs_truncation:
        return sf
    truncate_start = start
    for n in nodes:
        if isinstance(n, P.SummarizeNode) and not n.align_to_from:
            interval = P.parse_duration_ms(n.interval)
            ref = windows.GO_ZERO_TIME_MS
            bucket_start = ref + ((start - ref) // interval) * interval
            truncate_start = min(truncate_start, bucket_start)
    out = windows.truncate(sf, truncate_start, end)
    if profiler is not None:
        out = profiler.record("truncate", out)
    return out
