"""Sort / limit / top-k stages — list-order semantics over a bag of rows.

Reference: SortStage.java:48 orders the series *list* by a per-series
statistic; TopKStage.java:57 keeps the first k (with shard-local
sort+limit pushdown and coordinator re-merge — javadoc :1-22);
SliceStage.java:48 takes head/tail of the current list order.

Spark mapping: the per-series sort key is a tiny aggregate
(#series rows), the ordering is materialized as an explicit ``__order``
rank column (SeriesFrame.ordered_by), and topK = rank filter — Catalyst
executes the sort-key aggregate as partial+final HashAggregate and the
rank over the tiny series table, so the *data* never sorts or collects.
Ties break on series_key for determinism (the reference relies on stable
list order, which a distributed bag cannot reproduce otherwise).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Window
from pyspark.sql import functions as F

from time_series_db_spark.model import SAMPLE_COLS, SeriesFrame

_SORT_FNS = {"avg", "sum", "min", "max", "current", "stddev", "name"}


def _series_stat(sf: SeriesFrame, fn: str):
    """One row per series with its sort statistic (SortComparatorUtil.java
    comparator family: avg/current/max/min/sum/stddev/name)."""
    if fn == "name":
        return sf.distinct_series().select(
            "series_key", F.col("series_key").cast("string").alias("__stat")
        )
    # avg/sum rank keys are computed in exact decimal: a last-ulp float
    # difference from shuffle order must never flip a rank (the reference's
    # list order is stable; ours must be partitioning-invariant too)
    dec_sum = F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
    agg = {
        "avg": dec_sum / F.count("value"),
        "sum": dec_sum,
        "min": F.min("value"),
        "max": F.max("value"),
        "stddev": F.stddev_pop("value"),
        "current": F.expr("max_by(value, ts)"),
    }[fn]
    return sf.df.groupBy("series_key").agg(agg.cast("double").alias("__stat"))


def _ranked_stats(stats, key):
    """Distributed total-order rank of the per-series stat table: range
    partition on the sort key, rank locally within each range, then add the
    cumulative count of the preceding ranges (a windowed sum over the tiny
    per-partition count table).  No Exchange in the plan ever collapses the
    stat table to one partition, so the rank scales to any series
    cardinality (SortStage.java:48 orders an in-memory list; this is its
    shard-parallel equivalent).  The rank is a total order (tie-break on
    series_key), so the sampled range boundaries cannot change the result
    — and the ranged table is persisted so both the local-rank branch and
    the count branch read one consistent partitioning (spark_partition_id
    must not be recomputed under different boundaries); the cache is
    released by a later query boundary (cache.release_others).

    Returns ``(series_key, __order, __rorder)`` — forward and reverse
    1-based ranks; the reverse rank gives ``tail`` a count-free slice.
    """
    from time_series_db_spark.cache import persist_tracked

    spark = stats.sparkSession
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (TypeError, ValueError):  # "auto" under some AQE configs
        nparts = 32
    order = [*key, F.col("series_key").asc()]
    ranged = persist_tracked(stats.repartitionByRange(nparts, *order))
    pid = ranged.withColumn("__pid", F.spark_partition_id())
    local = pid.withColumn(
        "__lrank",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*order)),
    )
    # per-range counts: one short row per partition — the windowed
    # cumsum/total below run on ≤ nparts rows, never on the stat table
    wcum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pid.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__pid",
            F.coalesce(F.sum("__n").over(wcum), F.lit(0)).alias("__off"),
            F.sum("__n").over(
                Window.orderBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("__total"),
        )
    )
    return (
        local.join(F.broadcast(offsets), on="__pid", how="inner")
        .select(
            "series_key",
            (F.col("__lrank") + F.col("__off")).cast("int").alias("__order"),
            (F.col("__total") - F.col("__lrank") - F.col("__off") + 1)
            .cast("int")
            .alias("__rorder"),
        )
    )


def sort(sf: SeriesFrame, fn: str = "avg", descending: bool = True) -> SeriesFrame:
    """Order series by a per-series statistic — SortStage.java:48 (default
    descending). Materializes ``__order`` (1-based) on every row.

    As in :func:`top_k`, the input frame is persisted for the query's
    cache scope so the stat aggregate and the join-back read ONE
    materialization of the upstream pipeline instead of re-executing
    the scan twice."""
    if fn not in _SORT_FNS:
        raise ValueError(f"unknown sort fn: {fn}")
    from time_series_db_spark.cache import persist_tracked

    sf = replace(sf, df=persist_tracked(sf.df))
    stats = _series_stat(sf, fn)
    key = [F.col("__stat").desc()] if descending else [F.col("__stat").asc()]
    ranked = _ranked_stats(stats, key)
    df = sf.df.drop("__order", "__rorder").join(
        F.broadcast(ranked), on="series_key", how="inner"
    )
    return replace(
        sf,
        df=df.select(*SAMPLE_COLS, "__order", "__rorder"),
        ordered_by=["__order"],
    )


def sort_by_label(
    sf: SeriesFrame, keys: list[str], descending: bool = False
) -> SeriesFrame:
    """PromQL (experimental) sort_by_label / sort_by_label_desc: order
    series by the given label VALUES (lexicographic; a missing label
    sorts as the empty string, first ascending), tie-broken on the full
    series_key.  Same distributed shape as :func:`sort`: the rank runs
    over the tiny distinct-series table via the range-partitioned
    :func:`_ranked_stats` (never a single-partition sort), then
    broadcasts back onto the samples as ``__order``/``__rorder``."""
    if not keys:
        raise ValueError("sort_by_label needs at least one label name")
    from time_series_db_spark.cache import persist_tracked

    sf = replace(sf, df=persist_tracked(sf.df))
    stats = sf.distinct_series().select(
        "series_key",
        *[
            F.coalesce(F.col("labels")[k], F.lit("")).alias(f"__lbl_{i}")
            for i, k in enumerate(keys)
        ],
    )
    cols = [F.col(f"__lbl_{i}") for i in range(len(keys))]
    key = [c.desc() if descending else c.asc() for c in cols]
    ranked = _ranked_stats(stats, key)
    df = sf.df.drop("__order", "__rorder").join(
        F.broadcast(ranked), on="series_key", how="inner"
    )
    return replace(
        sf,
        df=df.select(*SAMPLE_COLS, "__order", "__rorder"),
        ordered_by=["__order"],
    )


def top_k(
    sf: SeriesFrame, k: int, fn: str = "avg", descending: bool = True
) -> SeriesFrame:
    """First k series of the sorted order — TopKStage.java:57.

    Unlike :func:`sort`, this never ranks the full series set: the sort
    key aggregate feeds ``orderBy().limit(k)``, which Catalyst executes
    as TakeOrderedAndProject (per-partition partial top-k, then a k-row
    merge on one reducer) — the exact analog of the reference's
    shard-local sort+limit → coordinator re-topK pushdown
    (TopKStage.java:1-22). Ranks are then assigned on the k-row result
    and broadcast back onto the samples.

    The input frame feeds BOTH the stat aggregate and the final
    join-back — without a persist Spark executes the upstream pipeline
    (scan + fetch dedup shuffle) twice; ``persist_tracked`` pins one
    materialization for the query's cache scope (spill-safe
    MEMORY_AND_DISK, released by a later query boundary), the same
    single-materialization contract the binary matching chain uses."""
    if fn not in _SORT_FNS:
        raise ValueError(f"unknown sort fn: {fn}")
    from time_series_db_spark.cache import persist_tracked

    sf = replace(sf, df=persist_tracked(sf.df))
    stats = _series_stat(sf, fn)
    key = F.col("__stat").desc() if descending else F.col("__stat").asc()
    topk = stats.orderBy(key, F.col("series_key").asc()).limit(int(k))
    w = Window.orderBy(key, F.col("series_key").asc())
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        topk.withColumn("__order", F.row_number().over(w))
        .withColumn(
            "__rorder", (F.count(F.lit(1)).over(wall) - F.col("__order") + 1)
        )
        .select("series_key", "__order", "__rorder")
    )
    df = sf.df.drop("__order", "__rorder").join(
        F.broadcast(ranked), on="series_key", how="inner"
    )
    return replace(
        sf,
        df=df.select(*SAMPLE_COLS, "__order", "__rorder"),
        ordered_by=["__order"],
    )


def head(sf: SeriesFrame, n: int = 10) -> SeriesFrame:
    """First n series of the current list order — SliceStage.java:48.
    Requires an upstream sort (ordered_by); unordered input falls back to
    series_key order for determinism."""
    ordered = sf if sf.ordered_by else sort(sf, fn="name", descending=False)
    df = ordered.df.filter(F.col("__order") <= F.lit(int(n)))
    return ordered.with_df(df)


def tail(sf: SeriesFrame, n: int = 10) -> SeriesFrame:
    """Last n series of the current list order — SliceStage.java:48.

    Symmetric to :func:`head` on the reverse rank that sort/topK
    always materialize alongside ``__order`` — a plain filter, no count
    of the input (the r2 formulation broadcast a 1-row max back onto the
    frame, which re-executed the upstream plan: in-plan scalar subqueries
    get no exchange reuse)."""
    ordered = sf if sf.ordered_by else sort(sf, fn="name", descending=False)
    assert "__rorder" in ordered.df.columns, "ordered frames carry __rorder"
    return ordered.with_df(ordered.df.filter(F.col("__rorder") <= F.lit(int(n))))


def top_k_per_timestamp(
    sf: SeriesFrame, k: int, descending: bool = True
) -> SeriesFrame:
    """_topKPerTimestamp — reference known-but-unimplemented
    (Constants.java:44): at each timestamp keep the k largest (smallest)
    values across series, ties broken on the canonical series key.

    One rank window partitioned by ``ts`` — timestamps are the query
    grid, so the partition count is bounded and uniform (no skew), and
    each partition holds ≤ one row per series; scales by adding
    partitions, never through a global sort."""
    key = F.col("value").desc() if descending else F.col("value").asc()
    w = Window.partitionBy("ts").orderBy(key, F.col("series_key").asc())
    df = (
        sf.df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.lit(int(k)))
        .select(*SAMPLE_COLS)
    )
    return sf.with_df(df)
