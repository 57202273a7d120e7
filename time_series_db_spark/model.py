"""Canonical series frame — the engine's single data abstraction.

Reference data model (SURVEY.md §1): a *time series* is an identity (sorted
string ``Labels`` — core/model/Labels.java:20) plus ordered ``(timestamp,
value)`` samples (core/model/Sample.java:22, FloatSample.java:24). At query
time a ``TimeSeries`` carries ``samples + labels + minTimestamp +
maxTimestamp + step + alias`` and samples may be sparse within the bounds
(query/aggregator/TimeSeries.java:68,83-90,39-46).

Spark mapping: one **exploded** DataFrame with one row per present sample:

====================  ======================  =====================================
column                type                    role
====================  ======================  =====================================
``series_key``        STRING                  canonical sorted ``k:v,k2:v2`` label
                                              encoding — groupable/joinable stand-in
                                              for the reference's ``ByteLabels``
                                              packed key (core/model/ByteLabels.java:49)
``labels``            MAP<STRING,STRING>      label map for value access
``alias``             STRING (nullable)       display alias (AliasStage et al.)
``ts``                BIGINT                  epoch millis, grid-aligned
``value``             DOUBLE                  sample value; NaN is a *data* value
====================  ======================  =====================================

**Null discipline** (critical — WindowTransformer.java:1-30): a missing
sample is an **absent row**, never a NULL-valued row. NaN flows through
arithmetic. Stages that densify (transformNull / isNonNull) materialize grid
rows explicitly via ``sequence()``.

Frame-level metadata (``step``, ``min_ts``, ``max_ts``, optional series
ordering) rides on the Python wrapper, mirroring the reference's per-series
fields, which are query-constant in every code path we rebuild.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: canonical separator between k:v pairs in series_key (labels are free-form
#: strings; a comma cannot appear in our fixture labels, and key collisions
#: only ever degrade grouping granularity, never correctness of label values,
#: because ``labels`` remains the source of truth).
_PAIR_SEP = ","
_KV_SEP = ":"


def series_key_expr(labels_col: Column = None) -> Column:
    """Canonical sorted ``k:v,k2:v2`` encoding of a label map.

    Mirrors ``Labels.getKeyValueString`` / ``ByteLabels`` packing
    (core/model/Labels.java:26-70): labels sorted by key, stable identity.
    Pure Catalyst expression (array_sort on map_entries) — stays in codegen.
    """
    c = labels_col if labels_col is not None else F.col("labels")
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(c)),
            lambda e: F.concat(e.getField("key"), F.lit(_KV_SEP), e.getField("value")),
        ),
        _PAIR_SEP,
    )


def labels_from_key_expr(key_col: Column) -> Column:
    """Inverse of :func:`series_key_expr`: rebuild the label map from the
    canonical ``k:v,k2:v2`` key. Lossless while keys contain neither ``:``
    nor ``,`` (``str_to_map`` splits each pair at the FIRST colon, so
    *values* may contain colons) — the same identity contract the
    reference's packed ``ByteLabels`` carries (core/model/ByteLabels
    .java:49). Lets aggregations group on the string key with primitive
    buffers (HashAggregate) and recover labels afterwards, instead of
    dragging a map-typed ``first(labels)`` buffer through SortAggregate.
    """
    return F.when(
        key_col == "", F.create_map().cast("map<string,string>")
    ).otherwise(F.str_to_map(key_col, F.lit(_PAIR_SEP), F.lit(_KV_SEP)))


def hash64(col: Column, seed: int | str = 0, fn: str = "md5") -> Column:
    """Deterministic 60-bit hash of a string column.

    ``md5`` variant: first 15 hex chars of md5("<seed>:<value>") as a
    BIGINT — portable across engines (DuckDB: ``('0x' || substr(md5(..),
    1, 15))::BIGINT``). ``xxhash64`` variant: Spark-native, for
    production runs where the oracle is not in the loop.
    """
    if fn == "xxhash64":
        return F.xxhash64(F.lit(str(seed)), col)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def sql_hash64(expr: str, seed: int | str = 0) -> str:
    """DuckDB rendering of :func:`hash64` (md5 variant)."""
    return f"('0x' || substr(md5('{seed}:' || ({expr})), 1, 15))::BIGINT"


def labels_subset_expr(keys: list[str], labels_col: Column = None) -> Column:
    """Map containing only ``keys`` — used by grouping stages where only the
    group-by labels survive into output labels (AbstractGroupingStage.java:69-75)."""
    c = labels_col if labels_col is not None else F.col("labels")
    karr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(c, lambda k, _v: F.array_contains(karr, k))


def has_all_keys_expr(keys: list[str], labels_col: Column = None) -> Column:
    """True when the series carries every key in ``keys`` — series missing a
    group-by label are dropped (AbstractGroupingStage.java:94-99)."""
    c = labels_col if labels_col is not None else F.col("labels")
    cond = F.lit(True)
    for k in keys:
        cond = cond & c[k].isNotNull()
    return cond


SAMPLE_COLS = ["series_key", "labels", "alias", "ts", "value"]


@dataclass(frozen=True)
class SeriesFrame:
    """A set of time series as an exploded DataFrame + query-grid metadata.

    ``step``/``min_ts``/``max_ts`` mirror TimeSeries.java:83-90 (range
    bounds; samples sparse within). ``ordered_by`` is set by sort/topK
    stages, whose *list order* semantics (SliceStage.java:48 head/tail)
    a bag-of-rows lacks; it names columns that define the series order.
    """

    df: DataFrame
    step: int
    min_ts: int
    max_ts: int  # exclusive bound of the query grid
    ordered_by: Optional[list[str]] = None  # column names defining series order

    def with_df(self, df: DataFrame) -> "SeriesFrame":
        # A stage that rebuilds the frame without the rank columns
        # (grouping, summarize, …) destroys any upstream sort — drop the
        # order claim so head/tail fall back to their documented
        # deterministic order instead of referencing absent columns.
        # (Reference analog: grouping emits a NEW series list whose
        # order is unspecified; only column-preserving stages keep it.)
        ordered = self.ordered_by
        if ordered and any(
            c not in df.columns for c in [*ordered, "__rorder"]
        ):
            ordered = None
        return replace(self, df=df, ordered_by=ordered)

    @property
    def grid_points(self) -> int:
        return max(0, (self.max_ts - self.min_ts) // self.step)

    def grid_col(self) -> Column:
        """ARRAY<BIGINT> of all grid timestamps in [min_ts, max_ts)."""
        return F.sequence(
            F.lit(self.min_ts), F.lit(self.max_ts - self.step), F.lit(self.step)
        )

    def distinct_series(self) -> DataFrame:
        """One row per series identity (series_key, labels, alias)."""
        return (
            self.df.select("series_key", "alias")
            .distinct()
            .withColumn("labels", labels_from_key_expr(F.col("series_key")))
            .select("series_key", "labels", "alias")
        )

    def rekey(self) -> "SeriesFrame":
        """Recompute series_key after a label-mutating stage."""
        return self.with_df(self.df.withColumn("series_key", series_key_expr()))


def align_to_grid(df: DataFrame, step: int, ts_col: str = "ts",
                  order_col: str = None) -> DataFrame:
    """Floor-align timestamps to the step grid with last-write-wins dedup.

    Mirrors the reference's decode-time alignment: ``minTs + k*step`` floor,
    last write wins (TimeSeriesUnfoldAggregator.java:305-320). ``order_col``
    supplies the deterministic "last" (ingest order); map-side partial
    aggregation makes this a single shuffle on (series_key, grid_ts).
    """
    keyed = df.withColumn("__grid_ts", F.col(ts_col) - (F.col(ts_col) % F.lit(step)))
    out = (
        keyed.groupBy("series_key", "alias", "__grid_ts")
        .agg(F.expr(f"max_by(value, {order_col or ts_col})").alias("value"))
        .withColumnRenamed("__grid_ts", "ts")
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select(*SAMPLE_COLS)
    )
    return out
