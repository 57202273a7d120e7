"""Binary stages — the engine's joins.

Reference semantics (AbstractBinaryProjectionStage.java:60-100): left and
right series are matched by full label equality, by an explicit label key
list, or by auto-extracted common tag keys (:213-217, :323-345 +
Labels.findCommonLabelNames core/model/Labels.java:128-154); samples pair
up per aligned timestamp. That is exactly an equi-join on
``(match_key, ts)`` — Catalyst picks broadcast vs shuffled hash join, and
AQE re-plans at runtime; when the right side is a small aggregate (the
common case: ``a | asPercent(a | sum)``) it broadcasts and no shuffle
happens at all.

Mixed-step inputs are normalized first (TimeSeriesNormalizer.java:66) —
see :func:`normalize`.

Output identity: the LEFT series' labels survive (the right side only
contributes values), matching the reference's projection stages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from time_series_db_spark.model import (
    SAMPLE_COLS,
    SeriesFrame,
    has_all_keys_expr,
    labels_from_key_expr,
)

NAN = float("nan")


def _match_cols(df, keys: list[str] | None, side: str):
    """Projection of the join key: full series_key or explicit label subset."""
    if keys:
        return [df["labels"][k].alias(f"__mk_{i}") for i, k in enumerate(keys)]
    return [df["series_key"].alias("__mk_0")]


def _meta_probe(lf, rf):
    """ONE action answering every coordinator-side metadata question the
    auto-matching branch needs: per-side series counts AND the
    common-label-name set (Labels.findCommonLabelNames, core/model/
    Labels.java:128-154).  Each distinct series contributes a sentinel
    row (null key) for the totals plus one row per label name; a single
    label-cardinality-sized aggregate then yields n_left/n_right from the
    sentinel group and "present in every series" per label name.  The
    right side reads its tracked cache; the left side is scanned once
    with only ``series_key`` leaving the scan.  (r2 ran these as up to
    three separate actions re-executing unpersisted pipelines; r4 still
    paid three metadata actions — fused per round-3 item 7.)

    Returns ``(n_left, n_right, common_label_names)``.
    """
    meta = (
        rf.select("series_key").distinct().withColumn("__r", F.lit(1))
        .unionAll(
            lf.select("series_key").distinct().withColumn("__r", F.lit(0))
        )
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
    )
    rows = (
        meta.select(
            "__r",
            F.explode(
                F.concat(
                    F.array(F.lit(None).cast("string")), F.map_keys("labels")
                )
            ).alias("__k"),
        )
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__r").alias("__nr"))
        .collect()
    )
    # both sides empty → no rows at all (not even sentinels): the
    # binary op degenerates to an empty join, not a crash
    n_total = next((r["__n"] for r in rows if r["__k"] is None), 0)
    n_right = next((r["__nr"] for r in rows if r["__k"] is None), 0) or 0
    common = sorted(
        r["__k"] for r in rows if r["__k"] is not None and r["__n"] == n_total
    )
    return n_total - n_right, n_right, common


def _binary_join(
    left: SeriesFrame,
    right: SeriesFrame,
    keys: list[str] | None,
    how: str = "inner",
):
    """The reference's binary matching chain
    (AbstractBinaryProjectionStage.process, :244-346):

    1. right side has a single series → every left series projects onto
       it, no label matching;
    2. otherwise the match keys are the explicit list, else the
       auto-extracted common label names (else full label identity);
    3. right series grouped by the match keys — a single group behaves
       like case 1 (broadcast), multiple groups equi-join on
       ``(match_key, ts)``. Multiple right series falling into one group
       merge last-write-wins per timestamp (SubtractStage
       .mergeMatchingSeries; divide/asPercent reject this shape in the
       reference — we take the deterministic merge instead of failing).

    The reference coordinator materializes the full right-hand series
    list in memory before branching (AbstractBinaryProjectionStage
    .process); the Spark analog is persisting the right frame ONCE
    (MEMORY_AND_DISK) so the branch probes (series count, common label
    names, match-group count) and the join itself all read one cached
    execution of the right pipeline — in r2 these were separate actions
    that re-executed an unpersisted right side up to 3×.  The left side
    is scanned at most twice (label-name probe + join) and only its
    ``series_key`` column leaves the scan for the probe.  The persist is
    registered with :mod:`time_series_db_spark.cache` — the join that
    consumes it runs after this function returns, so release happens at
    a later query boundary (once the query leaves the warm window), not
    here.
    """
    from time_series_db_spark.cache import persist_tracked
    from time_series_db_spark.operators.normalize import aligned, normalize_frames

    if not aligned(left, right):
        # mixed-step sides → common grid first (TimeSeriesNormalizer.java:66;
        # MAX step + TYPE_AWARE, the coordinator's defaults)
        left, right = normalize_frames([left, right])
    lf, rf = left.df, right.df

    # One materialization of the right pipeline feeds every probe AND the
    # join (the reference holds this same list in coordinator memory —
    # right sides are typically aggregates, bounded by series × grid).
    rf = persist_tracked(rf)

    from time_series_db_spark import cache as _cache

    n_groups = None
    if keys is None:
        # auto-matching needs the key LIST to shape the plan → one fused
        # series-level metadata probe (counts + common label names),
        # memoized per analyzed plan so identical re-runs skip the action
        _n_left, n_right, common = _cache.probe_memo(
            (lf, rf), "meta", lambda: _meta_probe(lf, rf)
        )
        if n_right <= 1:
            rvals = rf.groupBy("ts").agg(
                F.expr("max_by(value, series_key)").alias("__rvalue")
            )
            return lf.join(F.broadcast(rvals), on="ts", how=how), left
        keys = common or None  # [] → full identity
        if keys is None:
            n_groups = n_right  # full identity ⇒ one group per right series

    # One probe decides the branch (AbstractBinaryProjectionStage: a
    # single right GROUP → project every left series onto the merged
    # group ignoring keys; multiple groups → equi-join on the keys).
    # It reads the cached right side, as does the join below — the
    # resulting plan is a plain hash join that AQE broadcasts when the
    # right side is small, with no conditional-key machinery.  Skipped
    # when the fused probe already pinned the group count.
    n_mk = len(keys) if keys else 1
    rk = rf
    if keys:
        rk = rf.filter(has_all_keys_expr(keys))
    if n_groups is None:
        n_groups = _cache.probe_memo(
            rk,
            f"n_groups:{keys}",
            lambda: rk.select(*_match_cols(rk, keys, "r"))
            .distinct()
            .limit(2)
            .count(),
        )

    if n_groups <= 1:
        # all left series project onto the one merged group — join on
        # timestamp only, left labels survive, no key filter on left
        # (processWithoutLabelMatching pairs key-less series too)
        rvals = rk.groupBy("ts").agg(
            F.expr("max_by(value, series_key)").alias("__rvalue")
        )
        return lf.join(F.broadcast(rvals), on="ts", how=how), left

    if keys:
        lf = lf.filter(has_all_keys_expr(keys))
    lcols = lf.select(*SAMPLE_COLS, *_match_cols(lf, keys, "l"))
    rcols = (
        rk.select(
            F.col("ts").alias("__rts"),
            F.col("value").alias("__rvalue"),
            F.col("series_key").alias("__rsk"),
            *_match_cols(rk, keys, "r"),
        )
        # merge right series sharing a match key: last write wins per ts
        # (SubtractStage.mergeMatchingSeries; divide/asPercent reject
        # this shape in the reference — deterministic merge instead)
        .groupBy("__rts", *[f"__mk_{i}" for i in range(n_mk)])
        .agg(F.expr("max_by(__rvalue, __rsk)").alias("__rvalue"))
    )
    on = [lcols[f"__mk_{i}"] == rcols[f"__mk_{i}"] for i in range(n_mk)]
    on.append(lcols["ts"] == rcols["__rts"])
    joined = lcols.join(rcols, on=on, how=how)
    return joined, left


def _projected(left: SeriesFrame, joined, value_expr) -> SeriesFrame:
    df = joined.withColumn("value", value_expr.cast("double")).select(*SAMPLE_COLS)
    return left.with_df(df)


def _tag_ratios(out: SeriesFrame) -> SeriesFrame:
    """Add the ``type:ratios`` output label (DivideStage.java:107-111 /
    AsPercentStage.java:110-114 transformLabels)."""
    from time_series_db_spark.model import series_key_expr

    df = (
        out.df.withColumn(
            "labels",
            F.map_concat("labels", F.create_map(F.lit("type"), F.lit("ratios"))),
        )
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return out.with_df(df)


def divide(left: SeriesFrame, right: SeriesFrame, keys: list[str] | None = None) -> SeriesFrame:
    """L/R per aligned timestamp; NaN if the denominator is 0 or either side
    NaN — DivideStage.java:36 (NaN rules javadoc :1-12). Output tagged
    ``type:ratios`` like every divide-family stage."""
    joined, left = _binary_join(left, right, keys)
    expr = F.when(F.col("__rvalue") == 0, F.lit(NAN)).otherwise(
        F.col("value") / F.col("__rvalue")
    )
    return _tag_ratios(_projected(left, joined, expr))


def divide_when(
    left: SeriesFrame,
    right: SeriesFrame,
    op: str,
    threshold: float,
    keys: list[str] | None = None,
) -> SeriesFrame:
    """divideWhen — reference known-but-unimplemented
    (lang/m3/common/Constants.java:53). Chosen, documented semantics:
    divide the numerator by the matched denominator only at timestamps
    where the denominator satisfies ``<op> <threshold>`` (the
    ValueFilterStage comparison set); timestamps with no denominator
    match or a failing denominator pass the numerator through UNCHANGED
    — a guarded ratio that degrades to the raw series instead of
    emitting junk when the denominator is unhealthy. Matching follows
    the divide chain (explicit keys / auto-common / single-group);
    NaN-on-zero inside the divide branch like every divide-family stage;
    output tagged ``type:ratios``.

    Spark shape: the same equi-join as divide but LEFT-outer, so the
    pass-through rows ride the join instead of a second union pass.
    """
    from time_series_db_spark.operators.filters import value_pred

    joined, left = _binary_join(left, right, keys, how="left")
    rv = F.col("__rvalue")
    guarded = F.when(rv == 0, F.lit(NAN)).otherwise(F.col("value") / rv)
    expr = F.when(
        rv.isNotNull() & value_pred(rv, op, threshold), guarded
    ).otherwise(F.col("value"))
    return _tag_ratios(_projected(left, joined, expr))


def subtract(left: SeriesFrame, right: SeriesFrame, keys: list[str] | None = None) -> SeriesFrame:
    """L−R — SubtractStage.java:30 (Java double semantics: NaN propagates)."""
    joined, left = _binary_join(left, right, keys)
    return _projected(left, joined, F.col("value") - F.col("__rvalue"))


def as_percent(left: SeriesFrame, right: SeriesFrame, keys: list[str] | None = None) -> SeriesFrame:
    """100·L/R, output tagged ``type:ratios`` — AsPercentStage.java:28."""
    joined, left = _binary_join(left, right, keys)
    expr = F.when(F.col("__rvalue") == 0, F.lit(NAN)).otherwise(
        F.lit(100.0) * F.col("value") / F.col("__rvalue")
    )
    return _tag_ratios(_projected(left, joined, expr))


def intersect(left: SeriesFrame, right: SeriesFrame, keys: list[str] | None = None) -> SeriesFrame:
    """Keep left series having ≥1 matching right *series* (label-level
    semi-join; samples untouched) — IntersectStage.java:38."""
    lf = left.df
    if keys:
        lf = lf.filter(has_all_keys_expr(keys))
        rkeys = (
            right.df.filter(has_all_keys_expr(keys))
            .select(*[F.col("labels")[k].alias(f"__mk_{i}") for i, k in enumerate(keys)])
            .distinct()
        )
        on = [lf["labels"][k] == rkeys[f"__mk_{i}"] for i, k in enumerate(keys)]
        df = lf.join(rkeys, on=on, how="left_semi")
    else:
        rkeys = right.df.select("series_key").distinct()
        df = lf.join(rkeys, on="series_key", how="left_semi")
    return left.with_df(df.select(*SAMPLE_COLS))


def union(frames: list[SeriesFrame]) -> SeriesFrame:
    """Concatenate series lists, duplicates retained (bag semantics) —
    UnionStage.java:32. Frames are projected to the canonical sample
    columns first: an upstream sort's rank columns exist on one side
    only, and unionByName would fail resolving them on the other (the
    order claim is dropped by with_df since the columns are gone)."""
    df = frames[0].df.select(*SAMPLE_COLS)
    for f in frames[1:]:
        df = df.unionByName(f.df.select(*SAMPLE_COLS))
    return frames[0].with_df(df)


def fallback_series(left: SeriesFrame, right: SeriesFrame) -> SeriesFrame:
    """L if non-empty else R — FallbackSeriesBinaryStage.java:34.

    The emptiness probe is a ``limit(1)`` count — O(first partition), a
    metadata-scale driver check, not a data collect.  The left side is
    persisted first so whatever the probe computes is reused (not
    recomputed) when the surviving frame is consumed downstream; the
    cache is released by a later query boundary (cache.release_others).
    """
    from time_series_db_spark import cache as _cache

    cached = _cache.persist_tracked(left.df)
    if _cache.probe_memo(cached, "nonempty", lambda: cached.limit(1).count()) > 0:
        return left.with_df(cached)
    cached.unpersist()
    return right


def fallback_constant(sf: SeriesFrame, constant: float) -> SeriesFrame:
    """L if non-empty else a single constant dense series on the query grid
    — FallbackSeriesUnaryStage.java:40 (coordinator-only in the reference;
    here a one-row DataFrame exploded over the grid)."""
    from time_series_db_spark import cache as _cache

    cached = _cache.persist_tracked(sf.df)
    if _cache.probe_memo(cached, "nonempty", lambda: cached.limit(1).count()) > 0:
        return sf.with_df(cached)
    cached.unpersist()
    spark = sf.df.sparkSession
    one = spark.range(1).select(
        F.lit("").alias("series_key"),
        F.create_map().cast("map<string,string>").alias("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.explode(sf.grid_col()).alias("ts"),
        F.lit(float(constant)).alias("value"),
    )
    return sf.with_df(one.select(*SAMPLE_COLS))


def normalize(sf: SeriesFrame, target_step: int, consolidation: str = "avg") -> SeriesFrame:
    """Re-grid a frame onto a coarser step before cross-series ops —
    TimeSeriesNormalizer.java:66 (strategies :1-50: LCM or MAX step;
    consolidation AVG/SUM/MAX/MIN/LAST; TYPE_AWARE gives counters SUM).

    A groupBy on the coarser bucket — identical machinery to summarize.
    """
    from time_series_db_spark.operators.windows import summarize

    if target_step == sf.step:
        return sf
    if target_step % sf.step != 0:
        raise ValueError("target step must be a multiple of the current step")
    fn = {"avg": "avg", "sum": "sum", "max": "max", "min": "min", "last": "last"}[
        consolidation
    ]
    return summarize(sf, target_step, fn=fn)


def set_diff(left: SeriesFrame, right: SeriesFrame, keys: list[str] | None = None) -> SeriesFrame:
    """setDiff — reference known-but-unimplemented (Constants.java:67);
    the natural complement of :func:`intersect`: keep left series having
    NO matching right series (label anti-join, full identity or key
    subset). Catalyst broadcasts the distinct right-key set."""
    lf = left.df
    if keys:
        lf = lf.filter(has_all_keys_expr(keys))
        rkeys = (
            right.df.filter(has_all_keys_expr(keys))
            .select(*[F.col("labels")[k].alias(f"__mk_{i}") for i, k in enumerate(keys)])
            .distinct()
        )
        on = [lf["labels"][k] == rkeys[f"__mk_{i}"] for i, k in enumerate(keys)]
        df = lf.join(rkeys, on=on, how="left_anti")
    else:
        rkeys = right.df.select("series_key").distinct()
        df = lf.join(rkeys, on="series_key", how="left_anti")
    return left.with_df(df.select(*SAMPLE_COLS))
