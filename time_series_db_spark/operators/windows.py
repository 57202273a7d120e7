"""Per-series sequential stages (windows, densify, rates).

Reference: these stages need the full ordered series (MovingStage,
DerivativeStage, IntegralStage, … — `supportConcurrentSegmentSearch=false`,
PipelineStage.java:96). Spark mapping: ``Window.partitionBy(series_key)
.orderBy(ts)`` — partitioning by series guarantees whole-series locality,
so the reference's concurrent-segment-search correctness problem
disappears (SURVEY.md §4.1 row 11). All of these share ONE shuffle on
series_key; Catalyst reuses the exchange across consecutive window stages.

Scale note: state per series is one partition's worth of rows; with
billions of short series this is the ideal layout, and with few very long
series the grid bounds (min_ts/max_ts/step) cap rows per series, so no
window ever materializes unbounded state.

Densifying stages (transform_null / is_non_null / keep_last_value) build
the grid with ``sequence(min_ts, max_ts-step, step)`` per distinct series —
absent-row discipline is preserved everywhere else (model.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from time_series_db_spark.model import (
    SAMPLE_COLS,
    SeriesFrame,
    labels_from_key_expr,
)

NAN = float("nan")


def _series_window(ordered: bool = True):
    w = Window.partitionBy("series_key")
    return w.orderBy("ts") if ordered else w


def _on_grid(sf: SeriesFrame):
    """Predicate clipping samples to the query grid — the same clip the
    dense formulation's grid-only emission applies.

    The upper bound is the actual grid extent ``min_ts + grid_points *
    step``, NOT ``max_ts``: when ``(max_ts - min_ts) % step != 0`` a
    step-aligned sample can sit in ``[last_grid_point + step, max_ts)``
    — it passes an ``< max_ts`` check yet is not a point of
    ``grid_col()`` (``sequence(min_ts, max_ts - step, step)``), so the
    sparse union formulations would emit a row the dense grid never
    contained."""
    grid_end = sf.min_ts + sf.grid_points * sf.step
    return (
        (F.col("ts") >= F.lit(sf.min_ts))
        & (F.col("ts") < F.lit(grid_end))
        & ((F.col("ts") - F.lit(sf.min_ts)) % F.lit(sf.step) == 0)
    )


def _grid_gaps(sf: SeriesFrame):
    """The grid points each series is MISSING, as rows with NULL value —
    the generated half of :func:`_densified` (one groupBy packing each
    series' present timestamps, ``array_except`` against the grid)."""
    return (
        sf.df.groupBy("series_key", "alias")
        .agg(F.collect_list(F.when(_on_grid(sf), F.col("ts"))).alias("__ts"))
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select(
            "series_key", "labels", "alias",
            F.explode(
                F.array_except(sf.grid_col(), F.col("__ts"))
            ).alias("ts"),
        )
        .withColumn("value", F.lit(None).cast("double"))
        .select(*SAMPLE_COLS)
    )


def _densified(sf: SeriesFrame):
    """Dense frame with NULL marking the gaps (internal only — callers must
    either fill or re-drop the NULLs before returning).

    Built join-free as a UNION: the present samples pass through
    untouched (zero shuffle — they're already the answer at their grid
    points), and only the GAPS are generated — one groupBy packs each
    series' present timestamps into an array, ``array_except`` against
    the grid (hash-set, O(grid + samples)) yields the missing points,
    exploded with a NULL value.  This replaced the map-pack + per-grid-
    point ``try_element_at`` formulation (a linear scan per lookup →
    O(grid × samples) per series): A/B at sf0.1 (7.5k series, 720-point
    grid) measured 3.83 s → 1.78 s with bit-identical output, and the
    asymptotic win grows with sample density.  The shuffle carries only
    (series_key, alias, ts-array) — never values or label maps.

    (ts, value) is unique per series by the fetch grid-alignment
    contract; off-grid or out-of-window samples are clipped exactly as
    the map formulation's grid-only lookups clipped them.
    """
    base = sf.df.filter(_on_grid(sf)).select(*SAMPLE_COLS)
    return base.unionByName(_grid_gaps(sf))


def transform_null(sf: SeriesFrame, constant: float = 0.0) -> SeriesFrame:
    """Fill gaps with a constant over the query grid — TransformNullStage.java:35."""
    df = _densified(sf).withColumn(
        "value", F.coalesce(F.col("value"), F.lit(float(constant)))
    )
    return sf.with_df(df)


def is_non_null(sf: SeriesFrame) -> SeriesFrame:
    """Densify to 1.0 (sample present) / 0.0 (gap) — IsNonNullStage.java:68."""
    df = _densified(sf).withColumn(
        "value", F.when(F.col("value").isNull(), 0.0).otherwise(1.0)
    )
    return sf.with_df(df)


def keep_last_value(sf: SeriesFrame, lookback_ms: int | None = None) -> SeriesFrame:
    """Forward-fill gaps, optionally bounded by a lookback interval —
    KeepLastValueStage.java:56 (behavior :30-48).

    Unbounded: last non-null over an unbounded-preceding window on the
    dense grid. Bounded: additionally require the filling sample to be at
    most ``lookback_ms`` old.
    """
    if lookback_ms is not None:
        # Bounded fill as a *scatter*: each sample emits the grid points it
        # can fill (its own ts plus lookback/step successors); the newest
        # emitter wins per point via max_by. Work is O(samples · k), not
        # O(series · grid) — the sparse frame never densifies, and the only
        # shuffle is a combiner-friendly hash agg on the scattered rows.
        k = int(lookback_ms) // sf.step
        targets = F.sequence(
            F.col("ts"),
            F.least(
                F.col("ts") + F.lit(k * sf.step), F.lit(sf.max_ts - sf.step)
            ),
            F.lit(sf.step),
        )
        df = (
            sf.df.select(
                "series_key", "alias",
                F.col("ts").alias("__fill_ts"), "value",
                F.explode(targets).alias("ts"),
            )
            .groupBy("series_key", "alias", "ts")
            .agg(F.expr("max_by(value, __fill_ts)").alias("value"))
            .withColumn("labels", labels_from_key_expr(F.col("series_key")))
            .select(*SAMPLE_COLS)
        )
        return sf.with_df(df)

    # Unbounded fill: one ordered window over the dense grid (the output is
    # inherently dense, so the O(n log n) sort is the floor).
    w = _series_window().rowsBetween(Window.unboundedPreceding, 0)
    df = (
        _densified(sf)
        .withColumn("__fill", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("__fill").isNotNull())
        .withColumn("value", F.col("__fill"))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def truncate(sf: SeriesFrame, start_ts: int, end_ts: int) -> SeriesFrame:
    """Trim to [start, end) after a buffered fetch — TruncateStage.java:33
    (injected by the planner after window widening,
    SourceBuilderVisitor.java:331-339)."""
    from dataclasses import replace

    df = sf.df.filter(
        (F.col("ts") >= F.lit(int(start_ts))) & (F.col("ts") < F.lit(int(end_ts)))
    )
    return replace(sf, df=df, min_ts=int(start_ts), max_ts=int(end_ts))


def derivative(sf: SeriesFrame) -> SeriesFrame:
    """v[i]−v[i−1], emitted only when the two points are exactly one step
    apart — DerivativeStage.java:38 (step-gap rule in its javadoc)."""
    w = _series_window()
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .filter(F.col("__pts").isNotNull() & (F.col("ts") - F.col("__pts") == sf.step))
        .withColumn("value", F.col("value") - F.col("__pv"))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def per_second(sf: SeriesFrame) -> SeriesFrame:
    """(v[i]−v[i−1]) / Δt-seconds over consecutive present samples —
    PerSecondStage.java:47 (divides by the actual gap, not the step).
    Negative differences are counter resets and emit no sample at all
    (PerSecondStage.java:80-83); NaN differences flow through."""
    w = _series_window()
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .filter(F.col("__pts").isNotNull())
        .filter(~((F.col("value") - F.col("__pv")) < 0))
        .withColumn(
            "value",
            (F.col("value") - F.col("__pv"))
            / ((F.col("ts") - F.col("__pts")) / F.lit(1000.0)),
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def integral(sf: SeriesFrame, reset_on_gap: bool = False) -> SeriesFrame:
    """Cumulative sum per series; optionally resets at grid gaps —
    IntegralStage.java:42 (resetOnNull).

    Reset variant: a gap flag (previous sample more than one step back)
    cumulative-summed yields a segment id; the running sum restarts per
    segment. Two chained windows, same single shuffle.
    """
    w = _series_window()
    df = sf.df
    if reset_on_gap:
        gap = (
            F.lag("ts").over(w).isNotNull()
            & (F.col("ts") - F.lag("ts").over(w) > sf.step)
        ).cast("int")
        df = df.withColumn("__seg", F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        seg_w = Window.partitionBy("series_key", "__seg").orderBy("ts").rowsBetween(
            Window.unboundedPreceding, 0
        )
        df = df.withColumn("value", F.sum("value").over(seg_w))
    else:
        df = df.withColumn(
            "value",
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    return sf.with_df(df.select(*SAMPLE_COLS))


def changed(sf: SeriesFrame) -> SeriesFrame:
    """DENSE 0/1 over the grid — ChangedStage.java:71-110: every grid
    point emits; missing/NaN points emit 0; a present point emits 1 iff
    it differs from the last non-null, non-NaN value seen at ANY earlier
    grid point (not just the immediately preceding sample).

    Computed SPARSE-first: "last valid value at any earlier grid point"
    is exactly the last valid PRESENT sample (gaps carry no value), so
    the ordered window runs over the samples (~density × grid rows),
    and the inherently-dense output is the scored samples ∪ the gap
    points as constant 0.0 — the r11 union-densify shape; the old dense
    window sorted the full series×grid frame (5.4M rows at sf0.1)."""
    w = _series_window()
    valid = F.when(~F.isnan("value") & F.col("value").isNotNull(), F.col("value"))
    prev_real = F.last(valid, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    present = (
        sf.df.filter(_on_grid(sf))
        .withColumn("__prev", prev_real)
        .withColumn(
            "value",
            F.when(F.col("value").isNull() | F.isnan("value"), 0.0)
            .when(F.col("__prev").isNull(), 0.0)
            .when(F.col("value") != F.col("__prev"), 1.0)
            .otherwise(0.0),
        )
        .select(*SAMPLE_COLS)
    )
    gaps = _grid_gaps(sf).withColumn("value", F.lit(0.0)).select(*SAMPLE_COLS)
    return sf.with_df(present.unionByName(gaps))


_MOVING_FNS = {"sum", "avg", "min", "max", "median"}


#: above this window/step ratio the ×k scatter fan-out costs more than
#: one sorted pass over the dense grid — switch formulations
MOVING_SCATTER_MAX_K = 64

def _moving_agg(fn):
    """Aggregate factory: a _MOVING_FNS key or a caller-supplied
    zero-arg factory (moving_percentile's parameterized percentile)."""
    return fn if callable(fn) else _MOVING_AGGS[fn]


_MOVING_AGGS = {
    "sum": lambda: F.sum("value"),
    "avg": lambda: F.avg("value"),
    "min": lambda: F.min("value"),
    "max": lambda: F.max("value"),
    "median": lambda: F.expr("percentile(value, 0.5)"),
}


def moving(sf: SeriesFrame, window_ms: int, fn: str = "avg") -> SeriesFrame:
    """Sliding time-window aggregate — MovingStage.java:88-145 (windows
    stage/moving/{SumWindow,AvgWindow,MinMaxQueue,RunningMedianV2}).

    Reference semantics ("evaluate first, then update the window"): the
    value at grid point t aggregates the ``window_ms/step`` grid slots
    strictly BEFORE t — [t−w, t), the current point excluded — and a
    point is emitted wherever the window holds ≥1 present sample, even
    when the point itself has no sample.

    Two physical formulations with identical results:

    - **scatter** (k ≤ MOVING_SCATTER_MAX_K): explode each sample to the
      k grid points whose window contains it, hash-aggregate per
      (series, target). Map-side partial aggregation absorbs the ×k
      fan-out; no densify, no sort, no WindowExec.
    - **dense window** (large k): densify per series and aggregate over
      a trailing RANGE frame — one sort per series partition, but the
      work is O(dense rows), independent of k; the right shape for wide
      windows on fine steps (e.g. 1d over 1m = k 1440).

    The planner widens the fetch window by ``window_ms`` and truncates
    after (SourceBuilderVisitor.java:522-555).
    """
    if fn not in _MOVING_FNS:
        raise ValueError(f"unknown moving fn: {fn}")
    k = int(window_ms) // sf.step
    if k == 0:
        raise ValueError("windowSize should not be smaller than stepSize")
    if k > MOVING_SCATTER_MAX_K:
        return _moving_dense(sf, int(window_ms), fn)
    return _moving_scatter(sf, k, fn)


def moving_percentile(
    sf: SeriesFrame, window_ms: int, p: float
) -> SeriesFrame:
    """Trailing-window exact percentile per series — the p95/p99
    latency dashboard staple (``movingPercentile 3h 95``), the
    arbitrary-φ generalization of ``moving … median``.  Same window
    contract as :func:`moving`: the value at grid point t aggregates
    the slots strictly before t ([t−w, t)), emitted wherever the
    window holds ≥1 present sample.  Exact linear-interpolated
    percentile (``percentile``, not approx) — both physical
    formulations (scatter for small k, dense trailing frame for wide
    windows) reuse the moving() dispatch unchanged.
    """
    if not 0.0 <= float(p) <= 100.0:
        raise ValueError("movingPercentile needs percentile in [0, 100]")
    frac = float(p) / 100.0
    agg = lambda: F.expr(f"percentile(value, {frac!r})")
    k = int(window_ms) // sf.step
    if k == 0:
        raise ValueError("windowSize should not be smaller than stepSize")
    if k > MOVING_SCATTER_MAX_K:
        return _moving_dense(sf, int(window_ms), agg)
    return _moving_scatter(sf, k, agg)


def _moving_dense(sf: SeriesFrame, window_ms: int, fn) -> SeriesFrame:
    w = _series_window().rangeBetween(-window_ms, -sf.step)
    df = (
        _densified(sf)
        .withColumn("__mv", _moving_agg(fn)().over(w))
        .withColumn("__mc", F.count("value").over(w))
        .filter(F.col("__mc") > 0)
        .withColumn("value", F.col("__mv"))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def _moving_scatter(sf: SeriesFrame, k: int, fn) -> SeriesFrame:
    step = sf.step
    targets = F.explode(
        F.sequence(
            F.col("ts") + F.lit(step),
            F.col("ts") + F.lit(k * step),
            F.lit(step),
        )
    ).alias("__t")
    contrib = (
        sf.df.select("series_key", "alias", "value", targets)
        .filter(F.col("__t") < F.lit(sf.max_ts))
    )
    df = (
        contrib.groupBy("series_key", "alias", "__t")
        .agg(_moving_agg(fn)().alias("value"))
        .select(
            F.col("series_key"),
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.col("alias"),
            F.col("__t").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


_SUMMARIZE_FNS = {"sum", "avg", "min", "max", "last", "stddev", "count"}


#: SummarizePlanNode.GO_ZERO_TIME_MILLIS — Go's time zero (year 1 AD),
#: the reference time for fixed (alignToFrom=false) summarize buckets.
GO_ZERO_TIME_MS = -62_135_596_800_000


def summarize(
    sf: SeriesFrame,
    interval_ms: int,
    fn: str = "sum",
    percentile: float | None = None,
    align_to_from: bool = False,
) -> SeriesFrame:
    """Bucket samples into fixed intervals — SummarizeStage.java:65.

    ``align_to_from=False`` aligns buckets to Go-zero-time intervals
    (BucketMapper.calculateBucketStart with GO_ZERO_TIME_MILLIS —
    SourceBuilderVisitor.java:682-694); ``align_to_from=True`` anchors
    buckets at the series start, which for our frames is the scan-window
    start (SummarizeStage.java:162-168 computeReferenceTime). Output
    step = interval. fn also admits p0–p100 via ``percentile=``.
    """
    from dataclasses import replace

    interval = int(interval_ms)
    ref = sf.min_ts if align_to_from else GO_ZERO_TIME_MS
    # ts >= ref always (ref is either the scan start or year 1 AD), so
    # integer-division floor == Java's truncating division here
    bucket = (
        F.lit(ref)
        + ((F.col("ts") - F.lit(ref)) / F.lit(interval)).cast("long")
        * F.lit(interval)
    )
    if percentile is not None:
        agg = F.expr(f"percentile(value, {float(percentile) / 100.0})")
    else:
        agg = {
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "last": F.expr("max_by(value, ts)"),
            "stddev": F.stddev_pop("value"),
            "count": F.count("value").cast("double"),
        }[fn]
    df = (
        sf.df.withColumn("__bucket", bucket)
        .groupBy("series_key", "alias", "__bucket")
        .agg(agg.alias("value"))
        .withColumnRenamed("__bucket", "ts")
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .withColumn("value", F.col("value").cast("double"))
        .select(*SAMPLE_COLS)
    )
    new_min = ref + ((sf.min_ts - ref) // interval) * interval
    new_max = ref + ((sf.max_ts - 1 - ref) // interval + 1) * interval
    return replace(sf, df=df, step=interval, min_ts=new_min, max_ts=new_max)


def sustain(sf: SeriesFrame, duration_ms: int) -> SeriesFrame:
    """Keep a sample only when the uninterrupted run of present samples
    ending at it spans ≥ duration — SustainStage.java:50 (javadoc :1-22;
    pairs with value filters for "above threshold for 5m").

    Computed SPARSE: a run breaks wherever consecutive present samples
    are more than one step apart (that gap grid point is the dense
    formulation's "last absent point"), so segment ids come from one
    cumulative sum over the samples and the run start is the segment's
    first sample — never touching the series×grid dense frame (the
    output is a SUBSET of the present samples, so densifying was pure
    overhead; r11, part of the union-densify rewrite).
    """
    w = _series_window()
    run_w = Window.partitionBy("series_key", "alias", "__seg")
    gap_break = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > sf.step)
    ).cast("int")
    # NULL-valued rows are gaps in the dense formulation (they broke
    # runs and never emitted) — dropping them first reproduces both:
    # the ts jump across the dropped point exceeds one step, breaking
    # the run, and the row itself is gone from the output
    df = (
        sf.df.filter(_on_grid(sf))
        .filter(F.col("value").isNotNull())
        .withColumn(
            "__seg",
            F.sum(gap_break).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__run_start", F.min("ts").over(run_w))
        .filter(
            (F.col("ts") - F.col("__run_start") + sf.step)
            >= F.lit(int(duration_ms))
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def per_second_rate(sf: SeriesFrame, interval_ms: int, scale: float = 1.0) -> SeriesFrame:
    """Prometheus-counter → rate — PerSecondRateStage.java:56 (javadoc :1-25).

    Counter semantics: a decrease means the counter reset, so the delta is
    the new raw value; deltas are divided by the actual elapsed seconds and
    then smoothed with a trailing moving average over ``interval_ms``.
    The first point of each series emits nothing (no delta). ``scale``
    re-expresses the result (PromQL ``rate``→1000ms scale=1000·1/1000…;
    ``increase`` uses scale=interval semantics — PromSourceBuilderVisitor
    .java:155-173 maps both onto this stage).

    Fully window-expressible — no Python in the hot path: lag for deltas,
    RANGE frame for smoothing.
    """
    w = _series_window()
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .filter(F.col("__pts").isNotNull())
        .withColumn(
            "__delta",
            F.when(F.col("value") < F.col("__pv"), F.col("value")).otherwise(
                F.col("value") - F.col("__pv")
            ),
        )
        .withColumn(
            "__rate",
            F.col("__delta") / ((F.col("ts") - F.col("__pts")) / F.lit(1000.0)),
        )
    )
    smooth_w = _series_window().rangeBetween(-(int(interval_ms) - sf.step), 0)
    df = (
        df.withColumn("value", F.avg("__rate").over(smooth_w) * F.lit(float(scale)))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


# ---------------------------------------------------------------------------
# PromQL range-vector functions (FunctionType.java enumerates them; the
# reference's visitor implements only rate/increase and throws for the
# rest — PromSourceBuilderVisitor.java:155-177). All are per-series
# trailing-window ops over the grid, Window.partitionBy(series_key) like
# the M3 family above; the planner widens the fetch by the range and
# truncates after, exactly as for `moving`.
# ---------------------------------------------------------------------------


def irate(sf: SeriesFrame) -> SeriesFrame:
    """PromQL irate(): instant rate from the last two samples, counter
    resets treated as a restart (delta = new value) — FunctionType.IRATE.
    Like per_second_rate without interpolation or smoothing."""
    w = _series_window()
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .filter(F.col("__pts").isNotNull())
        .withColumn(
            "__delta",
            F.when(F.col("value") < F.col("__pv"), F.col("value")).otherwise(
                F.col("value") - F.col("__pv")
            ),
        )
        .withColumn(
            "value",
            F.col("__delta") / ((F.col("ts") - F.col("__pts")) / F.lit(1000.0)),
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def _range_frame(sf: SeriesFrame, window_ms: int):
    """Trailing (ts − window, ts] RANGE frame — same shape as `moving`."""
    return _series_window().rangeBetween(-(int(window_ms) - sf.step), 0)


def _window_variance(w) -> Column:
    """Population variance of ``value`` over window ``w``, clamped at 0:
    fp rounding can push the moment difference a few ulps negative for
    a constant window, and sqrt(-ε) would turn a legitimate 0 into NaN
    (the oracle clamps identically)."""
    v = F.col("value")
    return F.greatest(
        F.avg(v * v).over(w) - F.avg(v).over(w) * F.avg(v).over(w), F.lit(0.0)
    )


def over_time(sf: SeriesFrame, window_ms: int, fn: str) -> SeriesFrame:
    """PromQL *_over_time family — FunctionType.{AVG,MIN,MAX,SUM,COUNT,
    LAST,STDDEV,PRESENT}_OVER_TIME: aggregate the raw samples in each
    trailing range window. Absent samples are simply not in the frame
    (sparse discipline), matching Prometheus's raw-sample windows."""
    w = _range_frame(sf, window_ms)
    v = F.col("value")
    # every aggregate gets .over(w) FIRST; scalar post-processing (cast,
    # sqrt) wraps the windowed expression — wrapping the bare aggregate
    # instead detaches it from the window and Spark rejects the plan as
    # a group-less aggregate (caught by the PromQL grammar fuzz)
    aggs = {
        "avg": lambda: F.avg(v).over(w),
        "min": lambda: F.min(v).over(w),
        "max": lambda: F.max(v).over(w),
        "sum": lambda: F.sum(v).over(w),
        "count": lambda: F.count(v).over(w).cast("double"),
        "last": lambda: F.last(v).over(w),
        # population stddev, the Prometheus definition
        "stddev": lambda: F.sqrt(_window_variance(w)),
        "present": lambda: F.lit(1.0),
    }
    if fn not in aggs:
        raise ValueError(f"unknown over_time fn: {fn}")
    df = sf.df.withColumn("value", aggs[fn]())
    return sf.with_df(df.select(*SAMPLE_COLS))


def quantile_over_time(sf: SeriesFrame, q: float, window_ms: int) -> SeriesFrame:
    """PromQL quantile_over_time(φ, v[w]) — exact φ-quantile with linear
    interpolation over the trailing window (FunctionType.QUANTILE_OVER_TIME).

    Out-of-range φ follows Prometheus's quantile(): NaN → NaN, φ<0 →
    −Inf, φ>1 → +Inf per sample (Spark's percentile would reject the
    value at analysis time; a non-finite φ would not even parse)."""
    import math

    qf = float(q)
    if math.isnan(qf) or qf < 0.0 or qf > 1.0:
        const = (
            float("nan") if math.isnan(qf)
            else float("-inf") if qf < 0.0 else float("inf")
        )
        df = sf.df.withColumn("value", F.lit(const).cast("double"))
        return sf.with_df(df.select(*SAMPLE_COLS))
    w = _range_frame(sf, window_ms)
    df = sf.df.withColumn(
        "value", F.expr(f"percentile(value, {qf})").over(w)
    )
    return sf.with_df(df.select(*SAMPLE_COLS))


def _array_quantile(arr, q: float):
    """Interpolated φ-quantile of an array column — the Prometheus
    quantile rule (promql/quantile.go): rank = φ·(n−1), linear between
    the two neighboring order statistics."""
    s = F.array_sort(arr)
    n = F.size(s)
    rank = F.lit(float(q)) * (n - F.lit(1)).cast("double")
    lo = F.floor(rank).cast("int")
    hi = F.ceil(rank).cast("int")
    vlo = F.element_at(s, lo + F.lit(1))
    vhi = F.element_at(s, hi + F.lit(1))
    return vlo + (vhi - vlo) * (rank - lo.cast("double"))


def mad_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL (3.x experimental) mad_over_time(v[w]): median absolute
    deviation of the raw samples in the trailing window —
    median(|x − median(x)|) with interpolated medians, Prometheus's
    funcMadOverTime.  The window's samples are gathered into one array
    per output row (bounded by window/step, the same bound every
    *_over_time window carries) and both medians are pure array
    expressions — no UDF, no extra shuffle beyond the per-series sort."""
    w = _range_frame(sf, window_ms)
    df = (
        sf.df.withColumn("__arr", F.collect_list("value").over(w))
        .withColumn("__med", _array_quantile(F.col("__arr"), 0.5))
        .withColumn(
            "value",
            _array_quantile(
                F.transform(F.col("__arr"), lambda x: F.abs(x - F.col("__med"))),
                0.5,
            ),
        )
    )
    return sf.with_df(df.select(*SAMPLE_COLS))


def ts_of_over_time(sf: SeriesFrame, window_ms: int, fn: str) -> SeriesFrame:
    """PromQL (3.5 experimental) ts_of_{max,min,last}_over_time(v[w]):
    the timestamp, in epoch SECONDS, of the window's max / min / last raw
    sample.  Ties on value resolve to the LATEST sample — the >= / <=
    update rule in Prometheus's funcTsOfMaxOverTime/funcTsOfMinOverTime.
    Pure window aggregates (max_by/min_by on a (value, ts) struct)."""
    if fn == "last":
        # trailing windows end at the current sample, so the last sample's
        # timestamp is the row's own ts — same stance as over_time("last")
        val = F.col("ts").cast("double")
    elif fn == "max":
        val = F.expr("max_by(ts, struct(value, ts))").over(
            _range_frame(sf, window_ms)
        ).cast("double")
    elif fn == "min":
        val = F.expr("min_by(ts, struct(value, -ts))").over(
            _range_frame(sf, window_ms)
        ).cast("double")
    else:
        raise ValueError(f"unknown ts_of fn: {fn}")
    df = sf.df.withColumn("value", val / F.lit(1000.0))
    return sf.with_df(df.select(*SAMPLE_COLS))


def delta_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL delta(v[w]): last − first raw sample in the trailing window
    (gauge difference) — FunctionType.DELTA."""
    w = _range_frame(sf, window_ms)
    df = sf.df.withColumn("value", F.col("value") - F.first("value").over(w))
    return sf.with_df(df.select(*SAMPLE_COLS))


def deriv_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL deriv(v[w]): least-squares slope (per second) of the samples
    in the trailing window — FunctionType.DERIV. cov(t,v)/var(t) from
    window-aggregated moments (all Catalyst partials, no UDF). Timestamps
    are centered on min_ts first: avg(t²)−avg(t)² over raw epoch seconds
    (~1.7e9) cancels catastrophically; centering is slope-invariant."""
    w = _range_frame(sf, window_ms)
    t = (F.col("ts") - F.lit(sf.min_ts)) / F.lit(1000.0)
    v = F.col("value")
    cov = F.avg(t * v).over(w) - F.avg(t).over(w) * F.avg(v).over(w)
    var = F.avg(t * t).over(w) - F.avg(t).over(w) * F.avg(t).over(w)
    df = sf.df.withColumn(
        "value", F.when(var == 0, F.lit(float("nan"))).otherwise(cov / var)
    )
    return sf.with_df(df.select(*SAMPLE_COLS))


def changes_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL changes(v[w]): number of value changes between consecutive
    samples inside the window — FunctionType.CHANGES. Per-sample change
    flags (vs the previous sample) summed over the trailing frame; a pair
    whose first element precedes the window is excluded via the gap bound."""
    w = _series_window()
    frame = _range_frame(sf, window_ms)
    flag = (
        F.col("__pv").isNotNull()
        & (F.col("ts") - F.col("__pts") < F.lit(int(window_ms)))
        & (
            (F.col("value") != F.col("__pv"))
            # NaN → non-NaN and vice versa counts as a change
            | (F.isnan("value") != F.isnan("__pv"))
        )
        & ~(F.isnan("value") & F.isnan("__pv"))
    )
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .withColumn("__chg", flag.cast("double"))
        .withColumn("value", F.sum("__chg").over(frame))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def resets_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL resets(v[w]): number of counter resets (decreases) between
    consecutive samples inside the window — FunctionType.RESETS."""
    w = _series_window()
    frame = _range_frame(sf, window_ms)
    flag = (
        F.col("__pv").isNotNull()
        & (F.col("ts") - F.col("__pts") < F.lit(int(window_ms)))
        & (F.col("value") < F.col("__pv"))
    )
    df = (
        sf.df.withColumn("__pv", F.lag("value").over(w))
        .withColumn("__pts", F.lag("ts").over(w))
        .withColumn("__rst", flag.cast("double"))
        .withColumn("value", F.sum("__rst").over(frame))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def stdvar_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL stdvar_over_time(v[w]): population variance over the
    trailing window — FunctionType.STDVAR_OVER_TIME."""
    df = sf.df.withColumn("value", _window_variance(_range_frame(sf, window_ms)))
    return sf.with_df(df.select(*SAMPLE_COLS))


def predict_linear(sf: SeriesFrame, window_ms: int, ahead_s: float) -> SeriesFrame:
    """PromQL predict_linear(v[w], t): least-squares extrapolation of each
    trailing window to ``t`` seconds past the evaluation timestamp —
    FunctionType.PREDICT_LINEAR. Same window-moment algebra as deriv():
    slope = cov(t,v)/var(t), value = mean(v) + slope·(t_pred − mean(t)) —
    four windowed averages, all Catalyst partial aggregation, no UDF.
    Timestamps centered on min_ts (see deriv_over_time)."""
    w = _range_frame(sf, window_ms)
    t = (F.col("ts") - F.lit(sf.min_ts)) / F.lit(1000.0)
    v = F.col("value")
    mt, mv = F.avg(t).over(w), F.avg(v).over(w)
    cov = F.avg(t * v).over(w) - mt * mv
    var = F.avg(t * t).over(w) - mt * mt
    slope = F.when(var == 0, F.lit(float("nan"))).otherwise(cov / var)
    t_pred = t + F.lit(float(ahead_s))
    df = sf.df.withColumn("value", mv + slope * (t_pred - mt))
    return sf.with_df(df.select(*SAMPLE_COLS))


def holt_winters(
    sf: SeriesFrame, window_ms: int, sf_factor: float, tf_factor: float
) -> SeriesFrame:
    """PromQL holt_winters(v[w], sf, tf): double exponential smoothing of
    the trailing window, reporting the final smoothed level —
    FunctionType.HOLT_WINTERS.

    The recurrence (level/trend fold over the window's samples) is
    inherently sequential, but the window is small and bounded, so it runs
    as a Catalyst ``aggregate`` (fold) over the collected window array —
    still JVM-side codegen, no Python UDF, and the shuffle profile is
    identical to any other window function (one sort per series
    partition)."""
    import math

    s, t = float(sf_factor), float(tf_factor)
    # Prometheus funcDoubleExponentialSmoothing: factors must lie in
    # (0, 1) exclusive — reject instead of interpolating a non-finite
    # float into the fold's SQL text (an `infD`/`nanD` token would fail
    # analysis as an unresolved column; found by the r7 PromQL fuzz)
    if not (0.0 < s < 1.0) or not (0.0 < t < 1.0):
        raise ValueError(
            f"holt_winters smoothing/trend factors must be in (0, 1), "
            f"got sf={s}, tf={t}"
        )
    w = _range_frame(sf, window_ms)
    df = sf.df.withColumn(
        "__win", F.collect_list(F.struct(F.col("ts"), F.col("value"))).over(w)
    )
    # fold state: (level, trend, idx); seed from the first two samples as
    # in Prometheus's implementation (s0=x0, b0=x1-x0)
    fold = F.expr(
        f"""
        CASE WHEN size(__win) < 2 THEN CAST('NaN' AS DOUBLE) ELSE
        aggregate(
          slice(array_sort(__win), 2, size(__win)),
          named_struct(
            'level', CAST(array_sort(__win)[0].value AS DOUBLE),
            'trend', CAST(array_sort(__win)[1].value - array_sort(__win)[0].value AS DOUBLE)
          ),
          (acc, x) -> named_struct(
            'level', {s}D * x.value + (1.0D - {s}D) * (acc.level + acc.trend),
            'trend', {t}D * (({s}D * x.value + (1.0D - {s}D) * (acc.level + acc.trend)) - acc.level)
                     + (1.0D - {t}D) * acc.trend
          ),
          acc -> acc.level
        ) END
        """
    )
    out = df.withColumn("value", fold).select(*SAMPLE_COLS)
    return sf.with_df(out)


def absent_over_time(sf: SeriesFrame, window_ms: int) -> SeriesFrame:
    """PromQL absent_over_time(v[w]): 1 at each grid step whose trailing
    window contains no sample from ANY series; empty elsewhere —
    FunctionType.ABSENT_OVER_TIME.

    Distributed shape: each distinct sample timestamp covers the grid
    points in [ts, ts+w) — explode that coverage (bounded fan-out of
    w/step per sample), distinct, and anti-join the dense grid. All
    row counts here are tiny (grid-sized), so every stage is cheap at
    any data scale."""
    window_ms = int(window_ms)
    spark = sf.df.sparkSession
    grid = spark.range(sf.min_ts, sf.max_ts, sf.step).withColumnRenamed("id", "ts")
    covered = (
        sf.df.select("ts")
        .distinct()
        .select(
            F.explode(
                F.sequence(
                    F.col("ts"),
                    F.col("ts") + F.lit(window_ms - sf.step),
                    F.lit(sf.step),
                )
            ).alias("ts")
        )
        .distinct()
    )
    absent = grid.join(covered, "ts", "left_anti")
    out = absent.select(
        F.lit("").alias("series_key"),
        F.create_map().cast("map<string,string>").alias("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.col("ts").cast("long").alias("ts"),
        F.lit(1.0).alias("value"),
    ).select(*SAMPLE_COLS)
    return sf.with_df(out)


def non_negative_derivative(sf: SeriesFrame) -> SeriesFrame:
    """nonNegativeDerivative — in the reference's known-but-unimplemented
    list (lang/m3/common/Constants.java:62: parser accepts, planner
    rejects); we implement the Graphite semantics the name references:
    :func:`derivative`, but negative deltas (counter wraps) are dropped
    from the output instead of emitted."""
    out = derivative(sf)
    v = F.col("value")
    return out.with_df(out.df.filter((v >= 0) | F.isnan(v)))


def anomalies(sf: SeriesFrame, threshold: float = 3.0) -> SeriesFrame:
    """anomalies — reference known-but-unimplemented (Constants.java:48).
    Chosen, documented semantics: per-sample z-score outlier flag against
    the series' own query-window distribution — 1.0 where
    ``|v − mean| > threshold · stddev_pop`` (NaN samples and zero-variance
    series flag 0.0), else 0.0.

    One unbounded window aggregate per series (mean + stddev share the
    window exchange); the flag is a pure row expression after that.
    """
    w = _series_window(ordered=False).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    v = F.col("value")
    finite = F.when(~F.isnan(v), v)
    mu = F.avg(finite).over(w)
    sd = F.expr("stddev_pop(CASE WHEN NOT isnan(value) THEN value END)").over(w)
    flag = (
        F.when(
            ~F.isnan(v) & (sd > 0) & (F.abs(v - mu) > F.lit(threshold) * sd),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
    )
    df = sf.df.withColumn("value", flag).select(*SAMPLE_COLS)
    return sf.with_df(df)


def seasonal_adjust(
    sf: SeriesFrame,
    season_ms: int = 86_400_000,
    bucket_ms: int = 3_600_000,
    output: str = "residual",
) -> SeriesFrame:
    """Seasonal-naive decomposition: a sample's SEASONAL component is
    its series' mean at the same phase of the season (default: same
    hour-of-day across all days in the query window — the classic
    diurnal profile), and ``value`` becomes the residual
    ``value − seasonal`` (``output="residual"``) or the profile itself
    (``output="seasonal"``).  Compose with :func:`anomalies` for
    seasonality-aware outlier detection: a nightly batch spike that is
    normal *for 3am* stops flagging, a mild daytime bump that is
    abnormal *for 2pm* starts.

    The phase key is pure integer arithmetic (``(ts % season) −
    (ts % bucket)``) and the profile mean is exact (DECIMAL sum /
    count, NaN samples excluded), so the decomposition is
    partitioning-invariant and engine-portable.  One unbounded window
    aggregate per (series, phase) — no join, no second scan.
    """
    if output not in ("residual", "seasonal"):
        raise ValueError(f"output must be residual|seasonal, got {output!r}")
    if season_ms <= 0 or bucket_ms <= 0 or season_ms % bucket_ms:
        raise ValueError(
            "season/bucket must be positive with bucket dividing season"
        )
    phase = (F.col("ts") % F.lit(int(season_ms))) - (
        F.col("ts") % F.lit(int(bucket_ms))
    )
    w = Window.partitionBy("series_key", phase)
    finite = F.when(~F.isnan("value"), F.col("value"))
    seasonal = (
        F.sum(finite.cast("decimal(27,6)")).over(w).cast("double")
        / F.count(finite).over(w)
    )
    v = F.col("value") - seasonal if output == "residual" else seasonal
    df = sf.df.withColumn("value", v).select(*SAMPLE_COLS)
    return sf.with_df(df)


def seasonal_adjust_auto(
    sf: SeriesFrame,
    bucket_ms: int | None = None,
    max_lag: int = 48,
    min_lag: int = 2,
    output: str = "residual",
    per_series: bool = False,
) -> SeriesFrame:
    """``seasonalAdjust auto``: detect the dominant season from the
    frame's own autocorrelation (``stats.detect_season`` — per-series
    ACF peak, fleet-majority vote), then run :func:`seasonal_adjust`
    with it.  The profile bucket defaults to the grid step, which
    always divides the detected season (season = lag · step), so auto
    mode never hits the bucket-divides-season contract error.

    ``per_series=True`` adjusts EACH series at ITS OWN detected season
    (a mixed fleet — hosts on daily cycles next to hourly batch jobs —
    has no single right season): the ``stats.season_votes`` table
    joins back and the phase key becomes a column expression
    ``ts % (lag·step) − ts % step``, so the whole fleet still pays ONE
    (series, phase) window pass; series with no defined ACF peak
    (constant/too-sparse) pass through unadjusted (their phase key is
    the constant 0 and the profile mean is the series mean — for
    ``output="seasonal"`` that is the mean itself, for residual the
    centered series; a defensible degenerate).

    Same scale shape as the two pieces: one bounded ACF scatter (with
    either a 1-row vote collect or a fleet-metadata-sized join back),
    then one (series, phase) window aggregate — the corpus is scanned
    twice total (detect + adjust), never pairwise."""
    if not per_series:
        from time_series_db_spark.operators import stats as _stats

        season_ms = _stats.detect_season(
            sf, max_lag=max_lag, min_lag=min_lag
        )
        return seasonal_adjust(
            sf, season_ms, bucket_ms if bucket_ms else sf.step, output
        )
    if output not in ("residual", "seasonal"):
        raise ValueError(f"output must be residual|seasonal, got {output!r}")
    from time_series_db_spark.operators import stats as _stats

    step = int(bucket_ms) if bucket_ms else int(sf.step)
    votes = _stats.season_votes(sf, max_lag=max_lag, min_lag=min_lag).select(
        "series_key",
        (F.col("lag") * F.lit(int(sf.step))).alias("__season"),
    )
    joined = sf.df.join(votes, "series_key", "left")
    phase = F.when(
        F.col("__season").isNotNull(),
        (F.col("ts") % F.col("__season")) - (F.col("ts") % F.lit(step)),
    ).otherwise(F.lit(0))
    w = Window.partitionBy("series_key", phase)
    finite = F.when(~F.isnan("value"), F.col("value"))
    seasonal = (
        F.sum(finite.cast("decimal(27,6)")).over(w).cast("double")
        / F.count(finite).over(w)
    )
    v = F.col("value") - seasonal if output == "residual" else seasonal
    df = joined.withColumn("value", v).select(*SAMPLE_COLS)
    return sf.with_df(df)


def seasonal_decompose(
    sf: SeriesFrame,
    season_ms: int | None = None,
    bucket_ms: int | None = None,
    max_lag: int = 48,
    min_lag: int = 2,
) -> "DataFrame":
    """Textbook classical additive decomposition — the full
    trend/seasonal/residual triple :func:`seasonal_adjust` declines to
    emit (it returns residual-OR-seasonal against the RAW phase
    profile).  ``season_ms=None`` composes with
    ``stats.detect_season``'s auto mode exactly like
    :func:`seasonal_adjust_auto`.

    Classical recipe (public semantics — Brockwell & Davis §1.5 /
    every intro forecasting text):

    1. ``trend``: centered moving average over ONE season.  Both
       parities of ``P = season/step`` use the same formulation — the
       two offset P-point windows ``[t−h₁, t+h₂]`` and ``[t−h₂, t+h₁]``
       (``h₁ = ⌊P/2⌋·step``, ``h₂ = season − h₁ − step``), trend =
       ``(Σ_A + Σ_B) / (n_A + n_B)`` — which reduces to the plain
       P-MA when P is odd (the windows coincide) and to the textbook
       2×P MA when P is even and the grid is dense.  Trend is NULL
       where the ``±h₁`` window pokes past the series' finite-sample
       extent (the textbook NaN-edge contract: a truncated edge window
       would leak boundary phases into the profile); INTERIOR gaps and
       NaNs are simply absent samples the mean skips — the engine-wide
       null discipline, and what keeps the decomposition value-bearing
       on sparse series where a dense-count gate would void every
       window.
    2. ``seasonal``: per-(series, phase) mean of the DETRENDED
       interior (phase = ``ts % season − ts % bucket``; vs the raw
       profile ``seasonal_adjust`` averages).  Detrending first is
       what makes the profile trend-free; no re-centering pass is
       applied since the detrended input is already zero-mean up to
       edge effects.
    3. ``residual = (value − trend) − seasonal`` — NULL where the
       trend is undefined (edges) and for NaN samples (a NaN value
       contributes nothing to either mean and has no detrended value,
       so its residual degrades to NULL).

    Returns a DataFrame ``(series_key, labels, alias, ts, value,
    trend, seasonal, residual)`` — three columns wide, so not a
    SeriesFrame; slice one component back into a pipeline if needed.

    Determinism: every mean is an exact-decimal sum over a pinned
    operand set divided by an exact integer count, the edge gate
    compares integer timestamps, detrended values are identical
    doubles in both engines, and the profile quantizes its addends at
    DECIMAL(27,6) — the established engine-portable discipline.

    Scale shape: the trend's two range frames, the (series, phase)
    profile window, and the final row expressions all share ONE
    series_key exchange; auto mode adds detect_season's bounded ACF
    scatter (one more corpus scan).  No join, no collect beyond
    detect_season's 1-row vote.
    """
    if season_ms is None:
        from time_series_db_spark.operators import stats as _stats

        season_ms = _stats.detect_season(sf, max_lag=max_lag, min_lag=min_lag)
    season = int(season_ms)
    step = int(sf.step)
    bucket = int(bucket_ms) if bucket_ms else step
    if season <= 0 or season % step or season % bucket:
        raise ValueError(
            "season must be a positive multiple of the grid step and "
            f"the profile bucket (season={season}, step={step}, "
            f"bucket={bucket})"
        )
    p = season // step
    if p < 2:
        raise ValueError("season must span at least 2 grid steps")
    h1 = (p // 2) * step
    h2 = season - h1 - step
    wa = _series_window(ordered=True).rangeBetween(-h1, h2)
    wb = _series_window(ordered=True).rangeBetween(-h2, h1)
    wfull = _series_window(ordered=False).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    v = F.col("value")
    finite = F.when(~F.isnan(v), v)
    fin_dec = finite.cast("decimal(27,6)")
    fin_ts = F.when(~F.isnan(v), F.col("ts"))
    base = sf.df.select(
        "*",
        (F.sum(fin_dec).over(wa) + F.sum(fin_dec).over(wb)).alias("__s2"),
        (F.count(finite).over(wa) + F.count(finite).over(wb)).alias("__n2"),
        F.min(fin_ts).over(wfull).alias("__fts"),
        F.max(fin_ts).over(wfull).alias("__lts"),
    )
    trend = F.when(
        (F.col("ts") - F.lit(h1) >= F.col("__fts"))
        & (F.col("ts") + F.lit(h1) <= F.col("__lts"))
        & (F.col("__n2") > 0),
        F.col("__s2").cast("double") / F.col("__n2"),
    )
    base = base.select("*", trend.alias("__trend"))
    detr = F.when(~F.isnan(v), v - F.col("__trend"))
    phase = (F.col("ts") % F.lit(season)) - (F.col("ts") % F.lit(bucket))
    wp = Window.partitionBy("series_key", phase)
    seasonal = (
        F.sum(detr.cast("decimal(27,6)")).over(wp).cast("double")
        / F.count(detr).over(wp)
    )
    out = base.select(
        "series_key",
        "labels",
        "alias",
        "ts",
        "value",
        F.col("__trend").alias("trend"),
        seasonal.alias("seasonal"),
        (detr - seasonal).alias("residual"),
    )
    return out


def forecast(
    sf: SeriesFrame,
    horizon: int = 12,
    season_ms: int | None = None,
    drift: bool = True,
    max_lag: int = 48,
    min_lag: int = 2,
) -> SeriesFrame:
    """Seasonal-naive forecast with optional drift — the capacity-planning
    counterpart of :func:`seasonal_decompose` (public semantics: Hyndman &
    Athanasopoulos, *Forecasting: Principles and Practice* §5.2's SNAIVE /
    drift benchmark methods; the reference engine stops at PromQL's
    ``predict_linear``, which is the trend-only special case).

    Per series, emit ``horizon`` future grid samples past the series' LAST
    finite sample: ``ŷ(T+h·step) = y(T+h·step − k·season) + gap·d`` where
    ``k = ⌈h/P⌉`` (the most recent observed sample one whole number of
    seasons back), ``gap = (forecast ts − base ts)/step`` and ``d`` is the
    per-step drift ``(y_last − y_first) / ((ts_last − ts_first)/step)``
    (0 when ``drift=False`` or the series has < 2 finite samples) — the
    drift is accrued over the exact span the base value is carried across,
    so a forecast one season out extends the endpoint trend by one season.
    ``season_ms=None`` composes with ``stats.detect_season`` (the
    fleet-vote ACF season, like :func:`seasonal_adjust_auto`);
    ``season_ms=sf.step`` degrades to the plain naive/drift forecast.

    Null discipline: a base sample that is ABSENT yields an absent
    forecast row (never a NULL-valued row); a NaN base propagates NaN.
    Endpoints for the drift use finite samples only.

    Scale shape: one partial-aggregated groupBy(series) for the
    endpoint/extent table (fleet-metadata-sized), a bounded ×horizon
    explode of THAT table, then one equi join back against the samples on
    (series, base ts) — the corpus is scanned twice at most (once if the
    season is pinned), never windowed, never crossed.
    """
    from dataclasses import replace

    h_n = int(horizon)
    if h_n <= 0:
        raise ValueError(f"horizon must be positive, got {horizon}")
    if season_ms is None:
        from time_series_db_spark.operators import stats as _stats

        season_ms = _stats.detect_season(sf, max_lag=max_lag, min_lag=min_lag)
    season = int(season_ms)
    step = int(sf.step)
    if season <= 0 or season % step:
        raise ValueError(
            f"season must be a positive multiple of the grid step "
            f"(season={season}, step={step})"
        )
    p = season // step
    v = F.col("value")
    fin_ts = F.when(~F.isnan(v), F.col("ts"))
    agg = (
        sf.df.groupBy("series_key", "alias")
        .agg(
            F.min(fin_ts).alias("__fts"),
            F.max(fin_ts).alias("__lts"),
            F.expr(
                "min_by(CASE WHEN NOT isnan(value) THEN value END,"
                " CASE WHEN NOT isnan(value) THEN ts END)"
            ).alias("__vf"),
            F.expr(
                "max_by(CASE WHEN NOT isnan(value) THEN value END,"
                " CASE WHEN NOT isnan(value) THEN ts END)"
            ).alias("__vl"),
        )
        .filter(F.col("__lts").isNotNull())
    )
    d = (
        F.when(
            F.col("__lts") > F.col("__fts"),
            (F.col("__vl") - F.col("__vf"))
            / ((F.col("__lts") - F.col("__fts")) / F.lit(step)),
        ).otherwise(F.lit(0.0))
        if drift
        else F.lit(0.0)
    )
    grid = agg.select(
        "series_key",
        "alias",
        F.explode(F.sequence(F.lit(1), F.lit(h_n))).alias("__h"),
        d.alias("__d"),
        "__lts",
    ).select(
        "series_key",
        "alias",
        "__d",
        (F.col("__lts") + F.col("__h") * F.lit(step)).alias("ts"),
        (
            F.col("__lts")
            + F.col("__h") * F.lit(step)
            - ((F.col("__h") + F.lit(p - 1)) / F.lit(p)).cast("long")
            * F.lit(season)
        ).alias("__tsb"),
    )
    base = sf.df.select(
        F.col("series_key").alias("__bkey"),
        F.col("ts").alias("__bts"),
        v.alias("__base"),
    )
    df = (
        grid.join(
            base,
            (F.col("series_key") == F.col("__bkey"))
            & (F.col("__tsb") == F.col("__bts")),
        )
        .withColumn(
            "value",
            F.col("__base")
            + ((F.col("ts") - F.col("__tsb")) / F.lit(step)) * F.col("__d"),
        )
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select(*SAMPLE_COLS)
    )
    return replace(sf, df=df, max_ts=sf.max_ts + h_n * step)


def forecast_backtest(
    sf: SeriesFrame,
    horizon: int = 12,
    season_ms: int | None = None,
    drift: bool = True,
    max_lag: int = 48,
    min_lag: int = 2,
) -> "DataFrame":
    """Hold-out evaluation of :func:`forecast` — the loop every
    capacity-planning deployment runs before trusting a forecast: per
    series, hide the last ``horizon`` grid buckets, forecast them from
    the remaining prefix, and score the predictions against the hidden
    actuals.  Returns one row per series with ≥ 1 scored point:
    ``(series_key, labels, n_eval, mae, bias, mape)`` — ``mae`` mean
    absolute error, ``bias`` mean signed error (systematic over/under),
    ``mape`` mean |err|/|actual| over nonzero actuals (NULL when every
    actual is zero).  The evaluation counterpart the classifier got in
    ``classifier_calibration`` and retrieval got in ``retrieval_eval``.

    Determinism: predictions are engine-exact by :func:`forecast`'s
    construction, so errors are identical doubles; each per-point error
    term is quantized to 1e-6 integers BEFORE the per-series sum
    (order-free), and every emitted mean is one division of exact
    integers.  Scored points need a PRESENT finite actual and a
    non-NaN prediction — absent stays absent.

    Scale shape: one partial-aggregated groupBy(series) for the
    cutoffs, the forecast's own two scans over the prefix, and one
    (series, ts) equi join of the horizon-sized prediction table
    against the actuals — nothing new beyond the forecast itself.
    """
    h_n = int(horizon)
    if h_n <= 0:
        raise ValueError(f"horizon must be positive, got {horizon}")
    step = int(sf.step)
    v = F.col("value")
    fin_ts = F.when(~F.isnan(v), F.col("ts"))
    cuts = sf.df.groupBy("series_key").agg(
        (F.max(fin_ts) - F.lit(h_n * step)).alias("__cut")
    )
    train = sf.with_df(
        sf.df.join(cuts, "series_key")
        .filter(F.col("ts") <= F.col("__cut"))
        .select(*SAMPLE_COLS)
    )
    preds = forecast(
        train, h_n, season_ms, drift=drift, max_lag=max_lag, min_lag=min_lag
    ).df.select(
        "series_key", "ts", F.col("value").alias("__pred")
    )
    actuals = sf.df.filter(~F.isnan(v)).select(
        "series_key", "ts", F.col("value").alias("__act")
    )
    err = F.col("__pred") - F.col("__act")
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("decimal(27,0)")
    scored = (
        preds.join(actuals, ["series_key", "ts"])
        .filter(~F.isnan("__pred"))
        .select(
            "series_key",
            q6(F.abs(err)).alias("__ae"),
            q6(err).alias("__e"),
            F.when(F.col("__act") != 0, q6(F.abs(err) / F.abs("__act")))
            .alias("__ape"),
        )
    )
    agg = scored.groupBy("series_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum("__ae").alias("__sae"),
        F.sum("__e").alias("__se"),
        F.count("__ape").cast("long").alias("__n_ape"),
        F.sum("__ape").alias("__sape"),
    )
    return agg.select(
        "series_key",
        labels_from_key_expr(F.col("series_key")).alias("labels"),
        "n_eval",
        (F.col("__sae").cast("double") / 1e6 / F.col("n_eval")).alias("mae"),
        (F.col("__se").cast("double") / 1e6 / F.col("n_eval")).alias("bias"),
        F.when(
            F.col("__n_ape") > 0,
            F.col("__sape").cast("double") / 1e6 / F.col("__n_ape"),
        ).alias("mape"),
    )


def show_anomaly_thresholds(sf: SeriesFrame, threshold: float = 3.0) -> SeriesFrame:
    """showAnomalyThresholds — reference known-but-unimplemented
    (lang/m3/common/Constants.java:70); the companion surface of
    :func:`anomalies` under the same documented z-score model: instead of
    the 0/1 flags it emits each series' detection band — two output
    series per input series, tagged ``anomalyThreshold: upper|lower``,
    valued mean ± threshold·stddev_pop over the query window (constant
    across the series' timestamps; NaN samples are excluded from the
    moments; zero-variance series emit the mean as both bounds).

    Same single unbounded window aggregate as anomalies, then a bounded
    2-way posexplode and identity recompute — no additional shuffle.
    """
    from time_series_db_spark.model import series_key_expr

    w = _series_window(ordered=False).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    v = F.col("value")
    finite = F.when(~F.isnan(v), v)
    mu = F.avg(finite).over(w)
    sd = F.coalesce(
        F.expr("stddev_pop(CASE WHEN NOT isnan(value) THEN value END)").over(w),
        F.lit(0.0),
    )
    bounds = F.array(
        mu + F.lit(float(threshold)) * sd, mu - F.lit(float(threshold)) * sd
    )
    names = F.array(F.lit("upper"), F.lit("lower"))
    df = (
        sf.df.withColumn("__bounds", bounds)
        .select(
            "labels", "ts", F.posexplode(F.col("__bounds")).alias("pos", "value")
        )
        .select(
            F.map_concat(
                "labels",
                F.create_map(
                    F.lit("anomalyThreshold"),
                    F.element_at(names, F.col("pos") + 1),
                ),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def decimate_lttb(sf: SeriesFrame, bucket_ms: int) -> SeriesFrame:
    """Parallel largest-triangle decimation: within each ``bucket_ms``
    window of each series keep the ONE sample forming the largest
    triangle with the neighboring buckets' mean points — the
    shape-preserving chart downsample (Steinarsson's LTTB) in its
    bucket-independent variant: the canonical algorithm anchors each
    triangle on the PREVIOUS bucket's *selected* point, a sequential
    dependency; anchoring on the previous bucket's MEAN instead (both
    anchors are then means) makes every bucket independent, which is
    the published parallel/MapReduce formulation and the only one that
    scales.  Endpoint rule: a series' first bucket keeps its earliest
    sample and its last bucket its latest (LTTB keeps the endpoints); a
    single-bucket series keeps its earliest.

    Determinism: bucket means are exact (DECIMAL sums / counts), the
    triangle area is the same IEEE arithmetic on both engines, ties
    break on earliest ts — the SELECTION is differentially pinned like
    :func:`decimate`'s.

    Scale: two range-frame window passes over ONE per-series sort
    (neighbor-bucket means via ``RANGE BETWEEN bucket PRECEDING AND
    bucket PRECEDING``) plus the per-bucket rank — no joins, no
    self-union; output is exactly one row per series-bucket.
    """
    if bucket_ms <= 0:
        raise ValueError("decimate bucket must be a positive duration")
    b = int(bucket_ms)
    base = sf.df.where(F.col("value").isNotNull()).withColumn(
        "__b", F.col("ts") - F.col("ts") % F.lit(b)
    )
    wp = (
        Window.partitionBy("series_key").orderBy("__b").rangeBetween(-b, -b)
    )
    wn = Window.partitionBy("series_key").orderBy("__b").rangeBetween(b, b)

    def mean_v(w):
        return (
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double")
            / F.count("value").over(w)
        )

    def mean_t(w):
        return F.sum("ts").over(w).cast("double") / F.count("ts").over(w)

    scored = base.select(
        "*",
        mean_v(wp).alias("__pv"),
        mean_t(wp).alias("__pt"),
        mean_v(wn).alias("__nv"),
        mean_t(wn).alias("__nt"),
    ).withColumn(
        "__area",
        F.abs(
            (F.col("__pt") - F.col("__nt")) * (F.col("value") - F.col("__nv"))
            - (F.col("__pv") - F.col("__nv")) * (F.col("ts") - F.col("__nt"))
        ),
    )
    interior = F.col("__pv").isNotNull() & F.col("__nv").isNotNull()
    last_bucket = F.col("__nv").isNull() & F.col("__pv").isNotNull()
    ord1 = F.when(interior, -F.col("__area")).otherwise(F.lit(0.0))
    ord2 = F.when(last_bucket, -F.col("ts")).otherwise(F.col("ts"))
    wpick = Window.partitionBy("series_key", "__b").orderBy(
        ord1.asc(), ord2.asc()
    )
    out = (
        scored.withColumn("__rn", F.row_number().over(wpick))
        .where(F.col("__rn") == 1)
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def decimate(sf: SeriesFrame, bucket_ms: int) -> SeriesFrame:
    """Min-max decimation for rendering: within each ``bucket_ms``
    window of each series, keep only the bucket's minimum-value and
    maximum-value samples (one row when they coincide) — the standard
    chart-downsample that preserves spikes and dips exactly, where a
    plain ``summarize avg`` would flatten them (Grafana's min+max
    rendering pair; M3's aggregated-namespace display path).  Ties on
    value keep the earliest timestamp, so the selection is
    deterministic under any partitioning.

    Scale: ONE hash aggregation on (series, bucket) with map-side
    ``min_by``/``max_by`` partials — no window sort, no shuffle beyond
    the aggregation; output is ≤ 2 rows per series-bucket regardless of
    input density.
    """
    if bucket_ms <= 0:
        raise ValueError("decimate bucket must be a positive duration")
    df = sf.df
    g = (
        df.where(F.col("value").isNotNull())
        .groupBy(
            "series_key",
            (F.col("ts") - F.col("ts") % F.lit(int(bucket_ms))).alias("__b"),
        )
        .agg(
            F.first("labels").alias("labels"),
            F.first("alias", ignorenulls=True).alias("alias"),
            F.expr("min_by(struct(ts, value), struct(value, ts))").alias(
                "__lo"
            ),
            F.expr("max_by(struct(ts, value), struct(value, -ts))").alias(
                "__hi"
            ),
        )
    )
    out = (
        g.select(
            "series_key",
            "labels",
            "alias",
            F.explode(F.array_distinct(F.array("__lo", "__hi"))).alias("__p"),
        )
        .select(
            "series_key",
            "labels",
            "alias",
            F.col("__p.ts").alias("ts"),
            F.col("__p.value").alias("value"),
        )
    )
    return sf.with_df(out.select(*SAMPLE_COLS))


def cusum_changepoints(
    sf: SeriesFrame, threshold: float = 5.0, slack: float = 0.5
) -> SeriesFrame:
    """Two-sided CUSUM mean-shift detection (Page 1954, the classic
    SPC changepoint statistic): flags samples where the cumulative
    evidence of an up- or down-shift against the series' query-window
    mean exceeds ``threshold`` standard deviations, with ``slack``
    standard deviations of per-sample allowance (κ).  Complements
    :func:`anomalies`: a z-score catches single outliers, CUSUM
    catches small persistent level shifts a z-score never trips on.
    Output: 1.0 where the detection statistic is above threshold, else
    0.0.  NaN samples add no evidence but INHERIT the running
    detection state (the accumulated statistic is unchanged from the
    previous finite sample, so a NaN row inside an active alarm still
    reports 1.0 — an outage mid-shift does not silence the alarm);
    zero-variance series flag 0.0.

    The textbook recurrence ``S⁺_t = max(0, S⁺_{t−1} + x_t − μ − κ)``
    is a sequential fold; this uses its closed form
    ``S⁺_t = P_t − min(0, min_{j≤t} P_j)`` with
    ``P_t = Σ_{i≤t} x_i − n_t·(μ + κ)`` (and mirrored ``S⁻``), so the
    whole statistic is TWO running-frame window passes over ONE
    per-series sort — no fold, no collect, no join.  Differential
    pinning covers EVERY operand of the flag comparison: prefix sums
    are exact (DECIMAL), and σ comes from summed exact-decimal SQUARED
    DEVIATIONS against the (engine-identical) mean —
    ``√(Σ(x−μ)²/n)``, each square quantized at DECIMAL(38,12) — not
    from ``√(Σx²/n − μ²)``.  The raw-moment form cancels
    catastrophically for large-mean/small-spread series (values ~1e9
    with σ under ~25: the variance falls below the double epsilon of
    μ², clamps to 0, and every flag silently vanishes) and its
    6-decimal square quantization zeroes tiny-magnitude series;
    centering on μ first means the decimal grid applies to the SPREAD
    (signal down to σ ≈ 1e-6, single squares up to 1e26 before ANSI
    overflow — a cap on |x−μ|, not on |x|), and the summation order
    stays pinned because the addends are exact decimals.  μ itself is
    engine-identical (exact decimal sum → one double cast → one
    division), so both engines square identical deviations.
    """
    wfull = _series_window(ordered=False).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wrun = _series_window(ordered=True).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = F.col("value")
    finite = F.when(~F.isnan(v), v)
    mu = (
        F.sum(finite.cast("decimal(27,6)")).over(wfull).cast("double")
        / F.count(finite).over(wfull)
    )
    first = sf.df.select(
        "*",
        mu.alias("__mu"),
        F.sum(finite.cast("decimal(27,6)")).over(wrun).cast("double")
        .alias("__c"),
        F.count(finite).over(wrun).cast("double").alias("__n"),
    )
    dev = F.when(~F.isnan(v), v - F.col("__mu"))
    var = (
        F.sum((dev * dev).cast("decimal(38,12)")).over(wfull).cast("double")
        / F.count(dev).over(wfull)
    )
    base = first.select("*", F.sqrt(var).alias("__sd"))
    k = F.lit(float(slack))
    scored = base.select(
        "*",
        (F.col("__c") - F.col("__n") * (F.col("__mu") + k * F.col("__sd")))
        .alias("__p"),
        (F.col("__n") * (F.col("__mu") - k * F.col("__sd")) - F.col("__c"))
        .alias("__m"),
    )
    spos = F.col("__p") - F.least(F.lit(0.0), F.min("__p").over(wrun))
    sneg = F.col("__m") - F.least(F.lit(0.0), F.min("__m").over(wrun))
    h = F.lit(float(threshold)) * F.col("__sd")
    flag = (
        F.when(
            (F.col("__sd") > 0) & ((spos > h) | (sneg > h)),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
    )
    df = scored.withColumn("value", flag).select(*SAMPLE_COLS)
    return sf.with_df(df)


def interpolate(sf: SeriesFrame, limit: int | None = None) -> SeriesFrame:
    """Linear gap interpolation over the query grid (the Graphite-universe
    ``interpolate()``): interior gaps are filled by connecting the nearest
    present samples on either side with a straight line; leading and
    trailing gaps stay absent (there is no second endpoint to draw to).
    ``limit`` optionally bounds the fillable gap run in grid steps — a
    longer outage stays a gap instead of papering over with a long ramp.

    Complements the existing densifiers: :func:`transform_null` fills with
    a constant, :func:`keep_last_value` step-fills forward; this draws the
    line a chart renderer (or a downstream rate) actually wants.

    Plan shape: SPARSE — each consecutive pair of present samples (one
    ``lead`` over the series sort) *generates* its interior fill points
    with ``sequence`` + ``inline``, so the work is O(present samples +
    points actually filled).  The first formulation densified the full
    series×grid frame and ran two IGNORE-NULLS frames over it: 5.4M
    dense rows and ~17 s at sf0.1 where this emits 110k rows in under a
    second — a gap-run generator beats a dense-scan filler at every
    scale, and ``limit`` makes it strictly cheaper still (long outages
    generate nothing).  NaN samples are *present* values, not gaps:
    they stay and may propagate into fills, matching the engine-wide
    NaN-flows-through discipline.
    """
    if limit is not None and limit <= 0:
        raise ValueError("interpolate limit must be a positive step count")
    w = _series_window()
    step = F.lit(sf.step)
    d = sf.df.select(
        "series_key", "labels", "alias", "ts", "value",
        F.lead("ts").over(w).alias("__nts"),
        F.lead("value").over(w).alias("__nv"),
    )
    gap_steps = ((F.col("__nts") - F.col("ts")) / step).cast("long") - 1
    fill_ok = F.col("__nts").isNotNull() & (gap_steps > 0)
    if limit is not None:
        fill_ok = fill_ok & (gap_steps <= F.lit(int(limit)))
    # fill value mirrors the oracle operand-for-operand:
    # pv + (nv − pv) · ((t − pts) / (nts − pts))
    fill_row = lambda t: F.struct(
        t.alias("ts"),
        (
            F.col("value")
            + (F.col("__nv") - F.col("value"))
            * ((t - F.col("ts")) / (F.col("__nts") - F.col("ts")))
        ).alias("value"),
    )
    rows = F.concat(
        F.array(F.struct(F.col("ts"), F.col("value"))),
        F.when(
            fill_ok,
            F.transform(
                F.sequence(
                    F.col("ts") + step, F.col("__nts") - step, step
                ),
                fill_row,
            ),
        ).otherwise(F.array().cast("array<struct<ts:long,value:double>>")),
    )
    df = d.select(
        "series_key", "labels", "alias", F.inline(rows)
    ).select(*SAMPLE_COLS)
    return sf.with_df(df)


#: per-row window arrays multiply the frame's memory by n — bound the
#: knob (service query-limit discipline).  4096 is generous: the
#: truncated tail weight (1−α)⁴⁰⁹⁵ underflows double precision for any
#: α ≥ the default 2/(n+1), so a larger window cannot change the output.
MAX_EWMA_WINDOW = 4096


def ewma(sf: SeriesFrame, n: int, alpha: float | None = None) -> SeriesFrame:
    """Exponentially-weighted moving average over a trailing ``n``-sample
    window (the Graphite-universe ``exponentialMovingAverage`` with a
    deterministic bounded warm-up): within each window the classic
    recurrence ``s ← (1−α)·s + α·x`` runs seeded from the window's oldest
    sample, ``α = 2/(n+1)`` unless given.  Bounding the recurrence to the
    trailing window makes the statistic a pure sliding-frame expression —
    at ``n`` = 10 the truncated tail carries weight ``(1−α)⁹ ≈ 0.16`` of
    the seed, and the seed absorbs it exactly, so the window IS the
    operator's contract, not an approximation of an unbounded one.

    Plan shape: ONE per-series sort; ``collect_list`` over the bounded
    frame (≤ n doubles per row, constant memory) and a left-to-right
    ``aggregate`` fold entirely in JVM codegen — no Arrow, no join, no
    second exchange.  The fold's fixed operation order (seed = oldest,
    then ``(1−α)·acc + α·x`` ascending) is what pins the result
    bit-for-bit across engines: an order-free weighted sum would float
    differently everywhere.  NaN samples poison their window's fold (NaN
    flows through, engine-wide discipline).
    """
    if n <= 0:
        raise ValueError("ewma window must be a positive sample count")
    if n > MAX_EWMA_WINDOW:
        raise ValueError(
            f"ewma window {n} exceeds MAX_EWMA_WINDOW ({MAX_EWMA_WINDOW}): "
            "every row materializes its n-sample window as an array, so an "
            "unbounded n multiplies the frame's memory by n — at "
            f"(1−α)^{MAX_EWMA_WINDOW} the truncated tail is already below "
            "double precision for any α ≥ 2/(n+1)"
        )
    a = 2.0 / (n + 1.0) if alpha is None else float(alpha)
    if not 0.0 < a <= 1.0:
        raise ValueError("ewma alpha must be in (0, 1]")
    w = _series_window().rowsBetween(-(n - 1), Window.currentRow)
    arr = F.collect_list("value").over(w)
    d = sf.df.withColumn("__arr", arr)
    rest = F.slice(
        F.col("__arr"), 2, F.greatest(F.size("__arr") - 1, F.lit(0))
    )
    folded = F.aggregate(
        rest,
        F.element_at(F.col("__arr"), 1),
        lambda acc, x: F.lit(1.0 - a) * acc + F.lit(a) * x,
    )
    df = d.withColumn("value", folded).select(*SAMPLE_COLS)
    return sf.with_df(df)
