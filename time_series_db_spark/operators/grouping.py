"""Cross-series aggregation stages (reference: AbstractGroupingStage family).

Semantics (AbstractGroupingStage.java:17-27,46-100):
- group key = the subset of labels named in the group-by list; only those
  labels survive into the output series identity (:69-75);
- series missing any group-by label are dropped (:94-99);
- empty group list = one global group (output labels = {});
- aggregation is per aligned timestamp within each group.

Spark mapping: one ``groupBy(group_key_cols..., ts)`` — Catalyst plans it
as partial HashAggregate (map-side combine) → shuffle on (group, ts) →
final HashAggregate, which *is* the reference's shard/coordinator
partial-aggregation design (SumCountSample/MinMaxSample/MultiValueSample
carriers, SURVEY.md §4.1 row 5) with no custom code.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from time_series_db_spark.model import (
    SAMPLE_COLS,
    SeriesFrame,
    has_all_keys_expr,
    hash64,
    labels_from_key_expr,
    labels_subset_expr,
    series_key_expr,
)

NAN = float("nan")


def _with_group_key(df, keys: list[str], without: bool = False):
    """Attach ``__gkey`` (canonical group identity) per the key mode:
    explicit subset, ``without`` inversion, or global (empty labels)."""
    if without:
        karr = F.array(*[F.lit(k) for k in keys])
        df = df.withColumn(
            "__glabels",
            F.map_filter(F.col("labels"), lambda k, _v: ~F.array_contains(karr, k)),
        )
    elif keys:
        df = df.filter(has_all_keys_expr(keys))
        df = df.withColumn("__glabels", labels_subset_expr(keys))
    else:
        df = df.withColumn(
            "__glabels",
            F.create_map().cast("map<string,string>"),
        )
    return df.withColumn("__gkey", series_key_expr(F.col("__glabels")))


def _grouped(
    sf: SeriesFrame, keys: list[str], agg_expr: Column, value_type: str = "double",
    without: bool = False,
) -> SeriesFrame:
    """``without=True`` inverts the key list (PromQL ``without`` modifier):
    the group identity keeps every label *except* ``keys``. The reference
    throws UnsupportedOperationException here (PromSourceBuilderVisitor
    .java:258-260); the inversion is one map_filter for us."""
    df = _with_group_key(sf.df, keys, without)
    # No map column rides through the aggregation: a map-typed buffer
    # (first(labels)) forces SortAggregate; keeping the buffer primitive
    # keeps Catalyst on HashAggregate with map-side partial aggregation.
    # Labels are rebuilt from the canonical key (lossless: the key IS the
    # packed identity, exactly the reference's ByteLabels contract).
    out = (
        df.groupBy("__gkey", "ts")
        .agg(agg_expr.alias("value"))
        .select(
            F.col("__gkey").alias("series_key"),
            labels_from_key_expr(F.col("__gkey")).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("ts"),
            F.col("value").cast(value_type).alias("value"),
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


#: decimal type for exact-mode sums: exact and associative, so results are
#: bit-identical under any partitioning / shuffle order — the Spark analog
#: of the reference's order-insensitive reduce contract
#: (InternalTimeSeries.java:181-255). Requires finite inputs (NaN casts to
#: NULL); the default double mode keeps full NaN semantics.
_EXACT_DECIMAL = "decimal(27,6)"


def sum_(sf: SeriesFrame, keys: list[str] = (), exact: bool = False, without: bool = False) -> SeriesFrame:
    """sum/sumSeries — SumStage.java:55. NaN propagates (Java +).

    ``exact=True`` sums in fixed-point decimal: deterministic across
    partitionings (and engines), at ~2× the aggregation cost.
    """
    if exact:
        expr = F.sum(F.col("value").cast(_EXACT_DECIMAL)).cast("double")
    else:
        expr = F.sum("value")
    return _grouped(sf, list(keys), expr, without=without)


def avg(sf: SeriesFrame, keys: list[str] = (), exact: bool = False, without: bool = False) -> SeriesFrame:
    """avg/averageSeries — AvgStage.java:63; Catalyst keeps sum+count
    exactly like SumCountSample.java:24. ``exact`` as in :func:`sum_`."""
    if exact:
        expr = F.sum(F.col("value").cast(_EXACT_DECIMAL)).cast("double") / F.count(
            "value"
        )
    else:
        expr = F.avg("value")
    return _grouped(sf, list(keys), expr, without=without)


def min_(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """min/minSeries — MinStage.java:54.

    Spark's ``min`` treats NaN as largest (ignores it unless all-NaN),
    Java's ``Math.min`` propagates NaN. Restored with an any-NaN flag.
    """
    expr = F.when(F.max(F.isnan("value").cast("int")) == 1, F.lit(NAN)).otherwise(
        F.min("value")
    )
    return _grouped(sf, list(keys), expr, without=without)


def max_(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """max/maxSeries — MaxStage.java:54 (NaN propagation as in min_)."""
    expr = F.when(F.max(F.isnan("value").cast("int")) == 1, F.lit(NAN)).otherwise(
        F.max("value")
    )
    return _grouped(sf, list(keys), expr, without=without)


def count_at_ts(
    sf: SeriesFrame, keys: list[str] = (), without: bool = False
) -> SeriesFrame:
    """Per-timestamp presence count — the PromQL ``count`` aggregation
    (number of series with a sample at each instant; NaN is present).
    Distinct from M3's :func:`count`, which is a dense series count."""
    return _grouped(sf, list(keys), F.count("value").cast("double"), without=without)


def count(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """count — CountStage.java:processGroup: the value is the number of
    SERIES in the group, emitted DENSE over the whole grid
    (buildDenseSamples) — per-timestamp sample presence is irrelevant.

    Spark shape: distinct series per group (tiny, series-level) → count
    → explode the grid. Two small aggregates, no per-sample shuffle."""
    counts = (
        _with_group_key(sf.df, list(keys), without)
        .select("__gkey", "series_key")
        .distinct()
        .groupBy("__gkey")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    out = counts.select(
        F.col("__gkey").alias("series_key"),
        labels_from_key_expr(F.col("__gkey")).alias("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.explode(sf.grid_col()).alias("ts"),
        F.col("value"),
    ).select(*SAMPLE_COLS)
    return sf.with_df(out)


def multiply(sf: SeriesFrame, keys: list[str] = ()) -> SeriesFrame:
    """multiply/multiplySeries — MultiplyStage.java:55: product across
    series per timestamp. No built-in product aggregate: folded via
    ``aggregate(collect_list(...))`` — group fan-in is #series per group,
    small by construction, so the collected list is bounded. The list is
    sorted before folding so the fp product is order-deterministic across
    partitionings (equal values commute, so value order suffices).
    """
    expr = F.expr(
        "aggregate(array_sort(collect_list(value)), cast(1.0 as double), (a, x) -> a * x)"
    )
    return _grouped(sf, list(keys), expr)


def range_(sf: SeriesFrame, keys: list[str] = ()) -> SeriesFrame:
    """range/rangeOfSeries — RangeStage.java:63: max−min per timestamp
    (MinMaxSample carrier ≙ Catalyst partial min+max)."""
    expr = F.when(F.max(F.isnan("value").cast("int")) == 1, F.lit(NAN)).otherwise(
        F.max("value") - F.min("value")
    )
    return _grouped(sf, list(keys), expr)


def percentile_of_series(
    sf: SeriesFrame,
    percentiles: list[float],
    keys: list[str] = (),
    interpolate: bool = False,
) -> SeriesFrame:
    """percentileOfSeries / median — PercentileOfSeriesStage.java:69.

    M3 nearest-rank percentile (PercentileUtils.calculatePercentile,
    interpolate=false): over the sorted cross-series values at each
    timestamp, rank = max(1, ceil(p/100 · n)), value = sorted[rank]. One
    output series per requested percentile, tagged ``__percentile`` with
    formatPercentile formatting ("50", "99.5").

    Catalyst shape: one sorted collect_list per (group, ts) — the direct
    analog of the MultiValueSample carrier (partial = value list, final =
    sort) — then a per-percentile rank lookup in the projection.
    """
    ps = list(percentiles)
    base = _grouped(
        sf,
        list(keys),
        F.expr("array_sort(collect_list(value))"),
        value_type="array<double>",
    )

    def _rank_value(p: float) -> Column:
        frac = F.lit(float(p) / 100.0) * F.size("value")
        rank = F.greatest(F.lit(1), F.ceil(frac).cast("int"))
        base = F.element_at("value", rank)
        if not interpolate:
            return base
        # PercentileUtils.calculatePercentile interpolate=true: linear
        # between sorted[rank−1] and sorted[rank] by the fractional part
        prev = F.element_at("value", F.greatest(F.lit(1), rank - 1))
        fraction = frac - (F.ceil(frac) - 1)
        return F.when(rank <= 1, base).otherwise(
            prev + fraction * (base - prev)
        )

    results = F.array(*[_rank_value(p) for p in ps])
    pnames = F.array(*[F.lit(_format_percentile(float(p))) for p in ps])
    df = (
        base.df.withColumn("__res", results)
        .select(
            "labels", "alias", "ts", F.posexplode("__res").alias("pos", "v")
        )
        .select(
            F.map_concat(
                "labels",
                F.create_map(
                    F.lit("__percentile"), F.element_at(pnames, F.col("pos") + 1)
                ),
            ).alias("labels"),
            "alias",
            "ts",
            F.col("v").cast("double").alias("value"),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


#: first '-' that is neither the leading sign nor an exponent marker
#: splits "low-high" (HistogramPercentileStage.BucketInfo.parseBucket)
_SPLIT_RE = r"^(-?.*?)(?<![eE])-(.+)$"
_DUR_RE = r"^(-?\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)$"


def _bucket_upper_expr(range_col: Column) -> Column:
    """Bucket upper bound from the "low-high" range tag, a port of
    HistogramPercentileStage.BucketInfo.parseBucket: durations
    normalized to ms, +Inf upper falling back to the lower bound. Pure
    Catalyst (regexp_extract / try_cast), so bucket parsing never leaves
    the executors."""
    left = F.regexp_extract(range_col, _SPLIT_RE, 1)
    right = F.regexp_extract(range_col, _SPLIT_RE, 2)

    def _side(c: Column) -> Column:
        num = F.regexp_extract(c, _DUR_RE, 1)
        unit = F.regexp_extract(c, _DUR_RE, 2)
        unit_ms = (
            F.when(unit == "ns", 1e-6)
            .when(unit.isin("us", "µs"), 1e-3)
            .when(unit == "ms", 1.0)
            .when(unit == "s", 1e3)
            .when(unit == "m", 6e4)
            .when(unit == "h", 3.6e6)
            .when(unit == "d", 8.64e7)
        )
        return (
            F.when(c.isin("-Inf", "-infinity"), F.lit(float("-inf")))
            .when(unit != "", num.try_cast("double") * unit_ms)
            .otherwise(c.try_cast("double"))
        )

    return F.when(
        right.isin("+Inf", "Inf", "infinity", "+infinity"), _side(left)
    ).otherwise(_side(right))


def percentile_of_series_windowed(
    sf: SeriesFrame,
    percentiles: list[float],
    keys: list[str] = (),
    interpolate: bool = False,
) -> SeriesFrame:
    """Spill-safe exact percentileOfSeries — the 100-TB path for giant
    groups. Identical semantics (and catalog oracle) to
    :func:`percentile_of_series`; different physical shape: instead of
    materializing each (group, ts) value set as one in-memory array
    (the MultiValueSample analog — fan-in bounded by series-per-group),
    values are SORTED WITHIN THE SHUFFLE via a rank window and only the
    rank-selected rows survive. Sort-based aggregation spills to disk,
    so a pathological group (millions of series on one timestamp) can
    exceed executor memory in the array path but not here. NaN ordering
    matches array_sort/Java Double.compare: NaN sorts last.

    Same single exchange on (group, ts) as the array path; the extra
    cost is the per-partition sort — pick this variant when
    series-per-group is unbounded, the array variant when it's known
    small (the reference's own coordinator assumption).
    """
    from pyspark.sql import Window

    ps = list(percentiles)
    df = _with_group_key(sf.df, list(keys))
    w = Window.partitionBy("__gkey", "ts")
    wo = w.orderBy("value")
    df = (
        df.select("__gkey", "ts", "value")
        .withColumn("__n", F.count("value").over(w))
        .withColumn("__rn", F.row_number().over(wo))
        .withColumn("__prev", F.lag("value").over(wo))
    )

    def _rank(p: float) -> Column:
        frac = F.lit(float(p) / 100.0) * F.col("__n")
        return F.greatest(F.lit(1), F.ceil(frac).cast("int"))

    def _val(p: float) -> Column:
        if not interpolate:
            return F.col("value")
        frac = F.lit(float(p) / 100.0) * F.col("__n")
        rank = _rank(p)
        fraction = frac - (F.ceil(frac) - 1)
        return F.when(rank <= 1, F.col("value")).otherwise(
            F.coalesce(F.col("__prev"), F.col("value"))
            + fraction * (F.col("value") - F.coalesce(F.col("__prev"), F.col("value")))
        )

    hits = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(_format_percentile(float(p))).alias("pname"),
                    _rank(p).alias("r"),
                    _val(p).alias("v"),
                )
                for p in ps
            ]
        ),
        lambda s: s["r"] == F.col("__rn"),
    )
    out = (
        df.select("__gkey", "ts", F.explode(hits).alias("__hit"))
        .select(
            labels_from_key_expr(F.col("__gkey")).alias("__glabels"),
            "ts",
            F.col("__hit.pname").alias("__pname"),
            F.col("__hit.v").cast("double").alias("value"),
        )
        .select(
            F.map_concat(
                "__glabels",
                F.create_map(F.lit("__percentile"), F.col("__pname")),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            "ts",
            "value",
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def _format_percentile(p: float) -> str:
    """p99 label formatting — PercentileUtils.formatPercentile."""
    if p == int(p):
        return str(int(p))
    return str(p).rstrip("0").rstrip(".")


def _bucket_pairs_base(sf: SeriesFrame, bucket_id: str, bucket_range: str):
    """Shared bucket-series fold for histogramPercentile / histogramCDF:
    per (bucket-stripped group, ts), the sorted ``(upper, value)`` bucket
    array (``__pairs``) plus its count total (``__total``). One groupBy at
    group granularity — partial aggregation keeps the shuffle small; the
    range-tag parse is pure Catalyst (no driver round-trip)."""
    lbl = F.col("labels")
    df = sf.df.filter(
        lbl[bucket_id].isNotNull() & lbl[bucket_range].isNotNull()
    )
    drop = [bucket_id, bucket_range]
    glabels = F.map_filter(lbl, lambda k, _v: ~k.isin(*drop))
    # Generate barrier (the sources/wire.py isolate_input pattern): the
    # null-guard filter on __upper otherwise re-INLINES the whole
    # duration-aware range parse — and the upstream label-map build it
    # references — into every predicate Catalyst pushes toward the scan
    # (r14 plan audit: the parse appeared ~30x in the pushed filter of
    # m3ql_histogram_percentile).  Exploding a one-element struct array
    # pins both derived columns to ONE evaluation per row; predicates
    # cannot cross a Generate, so downstream sees references only.
    packed = df.select(
        F.explode(
            F.array(
                F.struct(
                    _bucket_upper_expr(lbl[bucket_range]).alias("u"),
                    series_key_expr(glabels).alias("k"),
                )
            )
        ).alias("__pk"),
        "ts",
        "value",
    )
    base = (
        packed.select(
            F.col("__pk.u").alias("__upper"),
            F.col("__pk.k").alias("__gkey"),
            "ts",
            "value",
        )
        .filter(F.col("__upper").isNotNull())
        .groupBy("__gkey", "ts")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__upper").alias("upper"),
                        F.col("value").alias("value"),
                    )
                )
            ).alias("__pairs"),
        )
        .withColumn("labels", labels_from_key_expr(F.col("__gkey")))
    )
    total = F.aggregate(
        F.col("__pairs"), F.lit(0.0), lambda acc, x: acc + x.getField("value")
    )
    return base.withColumn("__total", total)


def histogram_percentile(
    sf: SeriesFrame,
    bucket_id: str,
    bucket_range: str,
    percentiles: list[float],
) -> SeriesFrame:
    """histogramPercentile — HistogramPercentileStage.java:52.

    Series are one-per-bucket, identified by a bucket-id tag and a
    bucket-range tag ("low-high"); at each (group, ts) the bucket counts
    form a cumulative histogram and each percentile reports the first
    bucket's upper bound where the cumulative count reaches
    p% · total (no intra-bucket interpolation — matches the reference).

    Spark shape: the bucket-range string is parsed into its upper bound
    entirely in-plan (regexp_extract + try_cast — no driver round-trip,
    no blocking action before the output boundary); the per-(group, ts)
    scan is one groupBy with a sorted-struct-array fold — partial
    aggregation keeps the shuffle at group granularity. Malformed range
    strings yield a null upper bound and are dropped (the driver-side
    parser used to raise; in-plan we prefer skipping bad buckets over
    failing the whole query at scale).
    """
    base = _bucket_pairs_base(sf, bucket_id, bucket_range)

    def _pct_value(p: float) -> Column:
        target = F.col("__total") * F.lit(float(p) / 100.0)
        acc0 = F.struct(
            F.lit(0.0).alias("cum"), F.lit(None).cast("double").alias("res")
        )
        folded = F.aggregate(
            F.col("__pairs"),
            acc0,
            lambda acc, x: F.struct(
                (acc.getField("cum") + x.getField("value")).alias("cum"),
                F.coalesce(
                    acc.getField("res"),
                    F.when(
                        acc.getField("cum") + x.getField("value") >= target,
                        x.getField("upper"),
                    ),
                ).alias("res"),
            ),
        )
        return folded.getField("res")

    results = F.array(*[_pct_value(p) for p in percentiles])
    pnames = F.array(
        *[F.lit("p" + _format_percentile(p)) for p in percentiles]
    )
    out = (
        base.filter(F.col("__total") > 0)
        .select(
            "labels", "ts", F.posexplode(results).alias("pos", "value")
        )
        .select(
            F.map_concat(
                "labels",
                F.create_map(
                    F.lit("histogramPercentile"),
                    F.element_at(pnames, F.col("pos") + 1),
                ),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def histogram_cdf(
    sf: SeriesFrame,
    bucket_id: str,
    bucket_range: str,
    thresholds: list[float],
) -> SeriesFrame:
    """histogramCDF — reference known-but-unimplemented
    (lang/m3/common/Constants.java:56: parser accepts, planner rejects).
    Chosen, documented semantics — the dual of
    :func:`histogram_percentile`: for each threshold ``x``, the fraction
    of observations in buckets whose upper bound is ≤ x (cumulative count
    at x over total count) per (group, ts). Output series add a
    ``histogramCDF: le_<x>`` tag per threshold; duration thresholds
    normalize like the bucket tags do (ms).

    Same single-shuffle bucket-fold as histogramPercentile: one groupBy
    at group granularity, the CDF itself a pure array fold — no second
    shuffle, no driver round-trip.
    """
    base = _bucket_pairs_base(sf, bucket_id, bucket_range)

    def _cdf_value(x: float) -> Column:
        cum = F.aggregate(
            F.col("__pairs"),
            F.lit(0.0),
            lambda acc, p: acc
            + F.when(
                p.getField("upper") <= F.lit(float(x)), p.getField("value")
            ).otherwise(F.lit(0.0)),
        )
        return cum / F.col("__total")

    results = F.array(*[_cdf_value(x) for x in thresholds])
    names = F.array(
        *[F.lit("le_" + _format_percentile(float(x))) for x in thresholds]
    )
    out = (
        base.filter(F.col("__total") > 0)
        .select(
            "labels", "ts", F.posexplode(results).alias("pos", "value")
        )
        .select(
            F.map_concat(
                "labels",
                F.create_map(
                    F.lit("histogramCDF"),
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
    return sf.with_df(out)


# ---------------------------------------------------------------------------
# PromQL aggregation operators beyond the reference's implemented five
# (AggregationType.java has sum/avg/min/max/count; the rest of the PromQL
# aggregation surface — stddev, stdvar, group, quantile, topk, bottomk —
# composes from the same _grouped machinery).
# ---------------------------------------------------------------------------


def _variance(v: Column) -> Column:
    """Population variance as E[v²] − E[v]², clamped at 0: on equal
    values fp rounding can leave the difference a few ulps negative,
    which would make stdvar negative and stddev NaN (sqrt(−ε)) where
    Prometheus gives 0. NaN stays NaN."""
    return F.greatest(F.avg(v * v) - F.avg(v) * F.avg(v), F.lit(0.0))


def stddev(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """PromQL stddev (and M3QL stdev): population standard deviation
    across series per ts."""
    expr = F.sqrt(_variance(F.col("value")))
    return _grouped(sf, list(keys), expr, without=without)


def stdvar(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """PromQL stdvar: population variance across series per ts."""
    return _grouped(sf, list(keys), _variance(F.col("value")), without=without)


def group_(sf: SeriesFrame, keys: list[str] = (), without: bool = False) -> SeriesFrame:
    """PromQL group: 1 for every group with any member present per ts."""
    return _grouped(sf, list(keys), F.lit(1.0), without=without)


def quantile(
    sf: SeriesFrame, q: float, keys: list[str] = (), without: bool = False
) -> SeriesFrame:
    """PromQL quantile(φ, v): exact φ-quantile (linear interpolation)
    across the series values at each ts.

    Out-of-range φ follows Prometheus (quantile() in promql/quantile.go):
    φ < 0 → −Inf for every group, φ > 1 → +Inf, NaN → NaN — valid
    queries with warning semantics, never an error (Spark's percentile
    would throw VALUE_OUT_OF_RANGE; found by the r7 PromQL fuzz)."""
    import math

    qf = float(q)
    if math.isnan(qf) or qf < 0.0 or qf > 1.0:
        const = (
            float("nan") if math.isnan(qf)
            else float("-inf") if qf < 0.0
            else float("inf")
        )
        # keep the grouped shape: aggregate the groups, emit the constant
        return _grouped(
            sf, list(keys),
            F.max(F.lit(const)).cast("double"), without=without,
        )
    return _grouped(
        sf, list(keys), F.expr(f"percentile(value, {qf})"), without=without
    )


def topk_bottomk(
    sf: SeriesFrame,
    k: int,
    keys: list[str] = (),
    without: bool = False,
    bottom: bool = False,
) -> SeriesFrame:
    """PromQL topk/bottomk(k, v): at each evaluation timestamp keep the k
    series with the largest (smallest) values; series labels survive
    unchanged (unlike the grouped aggs). Ties break on series_key for
    determinism.

    Spark shape: rank per ts via row_number over a (group, ts) window —
    one shuffle on the window key; with thousands of series per ts this is
    a short sort per partition, and nothing materializes beyond rank ≤ k.
    (Distinct from M3 topK, which ranks whole series by a summary stat —
    TopKStage.java:57; PromQL ranks per timestamp.)
    """
    from pyspark.sql import Window

    if without:
        karr = F.array(*[F.lit(k_) for k_ in keys])
        gkey = series_key_expr(
            F.map_filter(F.col("labels"), lambda kk, _v: ~F.array_contains(karr, kk))
        )
    elif keys:
        gkey = series_key_expr(labels_subset_expr(list(keys)))
    else:
        gkey = F.lit("")
    order = [
        F.col("value").asc() if bottom else F.col("value").desc(),
        F.col("series_key").asc(),
    ]
    w = Window.partitionBy(gkey, F.col("ts")).orderBy(*order)
    df = (
        sf.df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.lit(int(k)))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def _le_bucket_base(sf: SeriesFrame):
    """Collect cumulative ``le``-labeled bucket series into one sorted
    (le, count) array per (group, ts) — group = all labels except ``le``.
    Shared by :func:`histogram_quantile` and
    :func:`prom_histogram_percentile`; one groupBy, partial aggregation
    keeps the shuffle at group granularity."""
    lbl = F.col("labels")
    df = sf.df.filter(lbl["le"].isNotNull())
    glabels = F.map_filter(lbl, lambda k, _v: k != F.lit("le"))
    le = F.when(lbl["le"] == "+Inf", F.lit(float("inf"))).otherwise(
        lbl["le"].cast("double")
    )
    return (
        df.withColumn("__le", le)
        .withColumn("__glabels", glabels)
        .withColumn("__gkey", series_key_expr(F.col("__glabels")))
        .groupBy("__gkey", "ts")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__le").alias("le"),
                                        F.col("value").alias("cnt")))
            ).alias("__bk"),
        )
        .withColumn("labels", labels_from_key_expr(F.col("__gkey")))
    )


def _bucket_quantile_expr(q: float) -> Column:
    """Prometheus bucketQuantile over the ``__bk`` array: rank = φ·total;
    walk cumulative buckets, linear interpolation inside the landing
    bucket, +Inf lands on the previous finite upper bound."""
    return F.expr(
        f"""
        CASE
          WHEN size(__bk) < 2 OR __bk[size(__bk)-1].le != double('Infinity')
               OR __bk[size(__bk)-1].cnt <= 0
          THEN CAST('NaN' AS DOUBLE)
          ELSE aggregate(
            __bk,
            named_struct('res', CAST(NULL AS DOUBLE), 'prev_le', 0.0D,
                         'prev_cnt', 0.0D,
                         'rank', {q}D * __bk[size(__bk)-1].cnt),
            (acc, b) -> CASE WHEN acc.res IS NOT NULL THEN acc ELSE
              CASE WHEN b.cnt >= acc.rank THEN
                named_struct(
                  'res',
                  CASE
                    WHEN b.le = double('Infinity') THEN acc.prev_le
                    WHEN b.cnt = acc.prev_cnt THEN b.le
                    ELSE acc.prev_le + (b.le - acc.prev_le) *
                         ((acc.rank - acc.prev_cnt) / (b.cnt - acc.prev_cnt))
                  END,
                  'prev_le', b.le, 'prev_cnt', CAST(b.cnt AS DOUBLE),
                  'rank', acc.rank)
              ELSE named_struct('res', acc.res, 'prev_le', b.le,
                                'prev_cnt', CAST(b.cnt AS DOUBLE),
                                'rank', acc.rank)
              END END,
            acc -> coalesce(acc.res, acc.prev_le)
          )
        END
        """
    )


def histogram_quantile(sf: SeriesFrame, q: float) -> SeriesFrame:
    """PromQL histogram_quantile(φ, v) — FunctionType.HISTOGRAM_QUANTILE.

    Input series are cumulative buckets identified by an ``le`` label
    (upper bound, "+Inf" last). Groups = all labels except ``le``; at each
    (group, ts) the φ-rank lands in the first bucket whose cumulative
    count reaches φ·total, with linear interpolation inside the bucket —
    the official Prometheus bucketQuantile algorithm. (Distinct from M3
    histogram_percentile, whose buckets are non-cumulative with explicit
    range tags — HistogramPercentileStage.java:44-50.)

    Spark shape: one groupBy (group, ts) collecting the tiny (le, count)
    bucket array, then a pure-SQL fold — no UDF, partial aggregation keeps
    the shuffle at group granularity.
    """
    import math

    qf = float(q)
    if math.isnan(qf) or qf < 0.0 or qf > 1.0:
        # Prometheus bucketQuantile checks φ BEFORE the histogram: NaN →
        # NaN, φ<0 → −Inf, φ>1 → +Inf (never an error; interpolating a
        # non-finite φ into the SQL fold would render an unresolvable
        # `infD` token instead — found by the r7 PromQL fuzz)
        vexpr = F.lit(
            float("nan") if math.isnan(qf)
            else float("-inf") if qf < 0.0 else float("inf")
        ).cast("double")
    else:
        vexpr = _bucket_quantile_expr(qf).cast("double")
    base = _le_bucket_base(sf)
    out = base.select(
        F.col("__gkey").alias("series_key"),
        F.col("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.col("ts"),
        vexpr.alias("value"),
    ).select(*SAMPLE_COLS)
    return sf.with_df(out)


def prom_histogram_percentile(
    sf: SeriesFrame, percentiles: list[float]
) -> SeriesFrame:
    """promHistogramPercentile — the one name-only reference function with
    fully public semantics (known-but-unimplemented list,
    lang/m3/common/Constants.java:64): Prometheus ``histogram_quantile``
    over cumulative ``le``-bucket series, surfaced as an M3QL stage
    taking 0-100 percentile args.

    Composition of the two existing halves: the ``le`` bucket collection
    of :func:`histogram_quantile` (one groupBy shared across ALL
    requested percentiles) and the ``histogramPercentile: pNN`` output
    tagging convention of :func:`histogram_percentile` — so
    ``fetch … | promHistogramPercentile 50 95`` emits one series per
    (group, percentile), interpolated per the official bucketQuantile
    algorithm (unlike M3 histogramPercentile's nearest-upper-bound walk).
    """
    base = _le_bucket_base(sf)
    results = F.array(
        *[_bucket_quantile_expr(float(p) / 100.0) for p in percentiles]
    )
    pnames = F.array(
        *[F.lit("p" + _format_percentile(p)) for p in percentiles]
    )
    out = (
        base.select(
            "labels", "ts", F.posexplode(results).alias("pos", "value")
        )
        .select(
            F.map_concat(
                "labels",
                F.create_map(
                    F.lit("histogramPercentile"),
                    F.element_at(pnames, F.col("pos") + 1),
                ),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def _fmt_bound(x: float) -> str:
    """Render a CDF evaluation point as a Spark/DuckDB double literal
    (repr of a non-finite float would emit an unresolvable `nanD`/`infD`
    token — the r7 fuzz found histogram_fraction(NaN, …) crashing
    analysis that way; NaN bounds propagate NaN through the CDF
    arithmetic, the Prometheus result)."""
    import math

    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "double('Infinity')"
    if x == float("-inf"):
        return "double('-Infinity')"
    return f"{float(x)!r}D"


def _bucket_cdf_expr(x: float) -> str:
    """Interpolated cumulative count at ``x`` over the sorted ``__bk``
    cumulative-bucket array (SQL sub-expression, no outer guard).

    Mirrors bucketQuantile's interpolation model run in reverse: count
    below the first bucket interpolates from 0 at le=0; inside a finite
    bucket, linearly; at or beyond the largest finite upper bound the
    +Inf tail mass is only reached at x = +Inf (no interpolation toward
    an infinite bound)."""
    xl = _fmt_bound(x)
    return f"""aggregate(
        __bk,
        named_struct('res', CAST(NULL AS DOUBLE), 'prev_le', 0.0D,
                     'prev_cnt', 0.0D),
        (acc, b) -> CASE WHEN acc.res IS NOT NULL THEN acc ELSE
          CASE WHEN b.le >= {xl} THEN
            named_struct(
              'res',
              CASE
                WHEN {xl} = double('Infinity') THEN CAST(b.cnt AS DOUBLE)
                WHEN {xl} <= acc.prev_le THEN acc.prev_cnt
                WHEN b.le = double('Infinity') THEN CAST(acc.prev_cnt AS DOUBLE)
                ELSE acc.prev_cnt +
                     (CAST(b.cnt AS DOUBLE) - acc.prev_cnt) *
                     (({xl} - acc.prev_le) / (b.le - acc.prev_le))
              END,
              'prev_le', b.le, 'prev_cnt', CAST(b.cnt AS DOUBLE))
          ELSE named_struct('res', acc.res, 'prev_le', b.le,
                            'prev_cnt', CAST(b.cnt AS DOUBLE))
          END END,
        acc -> coalesce(acc.res, acc.prev_cnt)
      )"""


def histogram_fraction(sf: SeriesFrame, lower: float, upper: float) -> SeriesFrame:
    """PromQL ``histogram_fraction(lower, upper, v)`` over CLASSIC
    cumulative ``le``-bucket series (beyond the reference; upstream
    Prometheus restricts the function to native histograms — this is the
    documented classic-bucket analog, using exactly bucketQuantile's
    interpolation assumptions so ``histogram_fraction`` and
    ``histogram_quantile`` are mutually consistent inverses).

    fraction = (F(upper) − F(lower)) / total where F is the
    linearly-interpolated cumulative count (observations in the +Inf
    tail are reached only when the bound is +Inf itself; bounds are
    clamped to [0, ∞) like positive classic buckets). Invalid histograms
    (no +Inf last bucket, total ≤ 0) yield NaN, matching
    :func:`histogram_quantile`'s guard. Same distributed shape as
    histogram_quantile: one (group, ts) aggregation, pure-SQL fold.
    """
    base = _le_bucket_base(sf)
    guard = """size(__bk) < 2 OR __bk[size(__bk)-1].le != double('Infinity')
               OR __bk[size(__bk)-1].cnt <= 0"""
    frac = F.expr(
        f"""CASE WHEN {guard} THEN CAST('NaN' AS DOUBLE)
        ELSE ({_bucket_cdf_expr(upper)} - {_bucket_cdf_expr(lower)})
             / __bk[size(__bk)-1].cnt END"""
    )
    out = base.select(
        F.col("__gkey").alias("series_key"),
        F.col("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.col("ts"),
        frac.cast("double").alias("value"),
    ).select(*SAMPLE_COLS)
    return sf.with_df(out)


def to_histogram_linear_buckets(
    sf: SeriesFrame,
    start: float,
    width: float,
    count: int,
    bucket_id: str = "bucketid",
    bucket_range: str = "bucket",
) -> SeriesFrame:
    """toHistogramLinearBuckets — reference known-but-unimplemented
    (Constants.java:76). Chosen, documented semantics: bucket the value
    distribution at each timestamp into ``count`` linear buckets of
    ``width`` starting at ``start`` — one output series per bucket whose
    value is the number of input samples landing in it. Out-of-range
    values clamp into the edge buckets; NaN samples are dropped.

    Output series carry the same ``bucketid`` / ``"low-high"`` range tags
    :func:`histogram_percentile` consumes, so
    ``toHistogramLinearBuckets … | histogramPercentile …`` composes —
    the bucket-series format of HistogramPercentileStage.java:52.

    Spark shape: one hash aggregation on (bucket, ts) — bucket count is a
    constant, timestamps are the query grid, so group cardinality is
    bounded and uniform; partial aggregation makes the shuffle carry at
    most ``count`` rows per (ts, map partition).
    """
    from time_series_db_spark.model import series_key_expr

    v = F.col("value")
    idx = F.least(
        F.lit(int(count) - 1),
        F.greatest(
            F.lit(0),
            F.floor((v - F.lit(float(start))) / F.lit(float(width))).cast("int"),
        ),
    )
    lo = (F.lit(float(start)) + idx * F.lit(float(width))).cast("bigint")
    hi = (F.lit(float(start)) + (idx + 1) * F.lit(float(width))).cast("bigint")
    labels = F.create_map(
        F.lit(bucket_id), F.lpad(idx.cast("string"), 3, "0"),
        F.lit(bucket_range),
        F.concat(lo.cast("string"), F.lit("-"), hi.cast("string")),
        F.lit("name"), F.lit("histogram"),
    )
    df = (
        sf.df.filter(~F.isnan(v))
        .withColumn("labels", labels)
        .withColumn("series_key", series_key_expr())
        .groupBy("series_key", "ts")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .withColumn("alias", F.lit(None).cast("string"))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def to_histogram(
    sf: SeriesFrame,
    bounds: list[float],
    bucket_id: str = "bucketid",
    bucket_range: str = "bucket",
) -> SeriesFrame:
    """toHistogram — reference known-but-unimplemented
    (lang/m3/common/Constants.java:75). Chosen, documented semantics: the
    explicit-bounds companion of :func:`to_histogram_linear_buckets` —
    ``bounds`` (strictly increasing) define ``len(bounds)-1`` buckets
    ``[b_i, b_{i+1})``; each timestamp's value distribution is counted
    into them, one output series per bucket. Out-of-range values clamp
    into the edge buckets; NaN samples are dropped. Output carries the
    same ``bucketid`` / ``"low-high"`` tags histogramPercentile and
    histogramCDF consume, so the families compose.

    Spark shape: identical to the linear variant — one hash aggregation
    on (bucket, ts); the bounds array is a Catalyst literal, the bucket
    index a pure array expression (count of bounds ≤ value), so group
    cardinality stays bounded at ``len(bounds)-1 × grid``.
    """
    n = len(bounds)
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    v = F.col("value")
    idx = F.least(
        F.lit(n - 2),
        F.greatest(
            F.lit(0),
            (F.size(F.filter(arr, lambda b: b <= v)) - 1).cast("int"),
        ),
    )
    lo = F.element_at(arr, idx + 1).cast("bigint")
    hi = F.element_at(arr, idx + 2).cast("bigint")
    labels = F.create_map(
        F.lit(bucket_id), F.lpad(idx.cast("string"), 3, "0"),
        F.lit(bucket_range),
        F.concat(lo.cast("string"), F.lit("-"), hi.cast("string")),
        F.lit("name"), F.lit("histogram"),
    )
    df = (
        sf.df.filter(~F.isnan(v))
        .withColumn("labels", labels)
        .withColumn("series_key", series_key_expr())
        .groupBy("series_key", "ts")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .withColumn("alias", F.lit(None).cast("string"))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)


def count_values(
    sf: SeriesFrame, dst: str, keys: list[str] = (), without: bool = False
) -> SeriesFrame:
    """PromQL count_values("dst", v): per timestamp, the number of series
    whose sample equals each distinct value within the group; the value
    itself joins the output identity under the ``dst`` label (formatted
    by the executor-side double→string cast, Java Double.toString).
    One hash aggregation on (group+value, ts) — group cardinality is
    bounded by distinct values per group, with map-side partials.
    """
    df = _with_group_key(sf.df, list(keys), without)
    glabels2 = F.map_concat(
        F.map_filter(F.col("__glabels"), lambda k, _v: k != F.lit(dst)),
        F.create_map(F.lit(dst), F.col("value").cast("string")),
    )
    df = df.withColumn("__gkey2", series_key_expr(glabels2))
    out = (
        df.groupBy("__gkey2", "ts")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            F.col("__gkey2").alias("series_key"),
            labels_from_key_expr(F.col("__gkey2")).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("ts"),
            F.col("value"),
        )
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def limitk(
    sf: SeriesFrame, k: int, keys: list[str] = (), without: bool = False
) -> SeriesFrame:
    """PromQL ``limitk(k, v)`` (Prometheus 3 experimental aggregation):
    keep k series per group, identities untouched. Prometheus leaves the
    pick implementation-defined; ours is deterministic — the k smallest
    ``md5(series_key)`` — so re-runs and the differential oracle agree.

    One rank window partitioned by group; dense_rank over the hashed
    series order gives every sample of a series the same rank, so the
    filter never splits a series.
    """
    if k <= 0:
        raise ValueError("limitk k must be positive")
    from pyspark.sql import Window

    df = _with_group_key(sf.df, list(keys), without)
    w = Window.partitionBy("__gkey").orderBy(
        F.md5(F.col("series_key")), F.col("series_key")
    )
    out = (
        df.withColumn("__r", F.dense_rank().over(w))
        .filter(F.col("__r") <= int(k))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(out)


def limit_ratio(
    sf: SeriesFrame, r: float, keys: list[str] = (), without: bool = False
) -> SeriesFrame:
    """PromQL ``limit_ratio(r, v)`` (Prometheus 3 experimental):
    deterministically sample ~|r| of each group's series by hashing the
    series identity to a uniform in [0,1): ``r ≥ 0`` keeps u < r,
    ``r < 0`` keeps the complement u ≥ 1+r — so the two halves of
    ``limit_ratio(0.4, v)`` / ``limit_ratio(-0.6, v)`` partition the
    series set exactly, the Prometheus contract. Pure filter, no
    shuffle; group keys only validate membership (the sampling hash is
    group-independent, as upstream)."""
    if not -1.0 <= r <= 1.0:
        raise ValueError("limit_ratio r must be in [-1, 1]")
    df = _with_group_key(sf.df, list(keys), without)
    u = (hash64(F.col("series_key"), "lr") % 1_000_000) / 1_000_000.0
    cond = u < float(r) if r >= 0 else u >= 1.0 + float(r)
    return sf.with_df(df.filter(cond).select(*SAMPLE_COLS))
