"""Streaming downsample: the M3 aggregated-namespace write path.

The reference ecosystem stores metrics at multiple resolutions — a raw
namespace plus downsampled namespaces (e.g. 10s raw / 5m rollup held for
longer retention), populated continuously at ingest time, and the query
path picks the namespace whose resolution matches the query range. The
reference repo itself carries only the raw path (TSDBEngine.index →
Head → closed chunks); this module adds the rollup leg as a second
Structured Streaming consumer of the SAME ingest stream — the fan-out
shape M3's downsampler uses (ingest → raw table + N rollup tables).

Spark mapping:

==============================  ===========================================
aggregated-namespace concept    Structured Streaming equivalent
==============================  ===========================================
rollup resolution               ``window(event_time, resolution)`` grouped
                                aggregation
rollup types (Last/Sum/…)       one column per aggregation in ONE pass —
                                readers pick theirs at query time
late-sample cutoff              the same watermark as the raw leg; a
                                window's rollup row is emitted once the
                                watermark passes its end (append mode)
longer-retention namespace      separate table ⇒ separate retention sweep
                                (maintenance.apply_retention)
==============================  ===========================================

The streaming leg writes through Spark's file sink, so its rollup table
carries a ``_spark_metadata`` log: ``apply_retention`` and
``compact_blocks`` raise ``SinkLoggedTableError`` on it rather than
break its reads. Tables :func:`cascade_rollup` builds are batch-written
and keep both sweeps.

Scale design: the rollup aggregation is hash-partitioned by
(series_key, window) — no per-executor global state, partial aggregation
combines map-side, and the output table is block-partitioned exactly
like the raw table so reads prune the same way.  State size is bounded
by (active series × windows inside the watermark), the same bound the
raw leg's dedup state carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from time_series_db_spark.model import labels_from_key_expr
from time_series_db_spark.streaming.ingest import (
    DEFAULT_BLOCK_MS,
    DEFAULT_OOO_CUTOFF,
    dedup_samples,
    ingest_stream,
    prune_blocks,
    start_block_sink,
    write_blocks,
)

#: rollup value columns, computed in one aggregation pass
ROLLUP_AGGS = ("sum", "count", "min", "max", "last")

#: physical schema of a rollup table, pinned on read like the metrics
#: table's (only :func:`start_downsample` and :func:`cascade_rollup`
#: write it)
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("series_key", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts", T.LongType()),
        *[T.StructField(f"value_{a}", T.DoubleType()) for a in ROLLUP_AGGS],
        T.StructField("block", T.LongType()),
    ]
)
ROLLUP_COLS = ROLLUP_SCHEMA.fieldNames()


def start_downsample(
    spark: SparkSession,
    source_dir: str,
    rollup_path: str,
    resolution_ms: int = 300_000,
    *,
    ooo_cutoff: str = DEFAULT_OOO_CUTOFF,
    block_ms: int = DEFAULT_BLOCK_MS,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the rollup leg: the ingest JSON stream aggregated into
    ``resolution_ms`` windows per series, appended to a block-partitioned
    parquet rollup table.

    Every rollup type is computed in the single pass (``value_sum`` …
    ``value_last``); ``value_last`` is last-write-wins by sample
    timestamp (``max_by``), matching the raw read path's merge policy.
    A window emits once the watermark passes its end — the same
    ooo-cutoff rule the raw leg enforces, so raw and rollup agree on
    which late samples count.  (With ``available_now`` batch drains, the
    watermark advances at the END of a batch, so a window flushes on the
    run AFTER the one whose data closed it — backfills finish with one
    extra drain.) Row timestamps are the window START (the
    convention summarize's epoch alignment uses on the query side).
    """
    if resolution_ms <= 0:
        raise ValueError(f"resolution_ms must be positive, got {resolution_ms}")
    rolled = (
        ingest_stream(spark, source_dir, ooo_cutoff, block_ms)
        .groupBy(
            "series_key",
            F.window("event_time", f"{resolution_ms} milliseconds"),
        )
        .agg(
            F.sum("value").alias("value_sum"),
            F.count(F.lit(1)).cast("double").alias("value_count"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.expr("max_by(value, ts)").alias("value_last"),
        )
        .select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.unix_millis(F.col("window.start")).alias("ts"),
            *[f"value_{a}" for a in ROLLUP_AGGS],
        )
        .withColumn(
            "block", F.col("ts") - F.col("ts") % F.lit(int(block_ms))
        )
    )
    return start_block_sink(rolled, rollup_path, checkpoint_dir, available_now)


def scan_rollup(
    spark: SparkSession,
    rollup_path: str,
    agg: str = "last",
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> DataFrame:
    """The pruned raw rows of a rollup table as (series_key, ts, value),
    ``value`` being the requested aggregation — duplicates NOT merged."""
    if agg not in ROLLUP_AGGS:
        raise ValueError(f"agg must be one of {ROLLUP_AGGS}, got {agg!r}")
    df = prune_blocks(
        spark.read.schema(ROLLUP_SCHEMA).parquet(rollup_path),
        min_ts, max_ts, block_ms,
    )
    return df.select("series_key", "ts", F.col(f"value_{agg}").alias("value"))


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    agg: str = "last",
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> DataFrame:
    """Scan a rollup table as a metrics-shaped frame (series_key, labels,
    ts, value) with the requested aggregation as the value column — the
    namespace-selection read: a long-range query reads this instead of
    the raw table, with the same block/row-group pruning and the same
    pinned-schema read (:data:`ROLLUP_SCHEMA`, no inference job).

    Duplicate (series, window) rows can exist in tables assembled
    without the streaming sink's _spark_metadata log (batch backfills,
    copies); a replayed window carries IDENTICAL totals, so they merge
    ANY_WINS (any one row) — an agg-specific combine (sum of sums) would
    double-count the replay. ``MetricsSource`` reads :func:`scan_rollup`
    instead and folds this merge into its grid alignment.
    """
    return dedup_samples(
        scan_rollup(spark, rollup_path, agg, min_ts, max_ts, block_ms)
    )


def cascade_rollup(
    spark: SparkSession,
    fine_path: str,
    coarse_path: str,
    resolution_ms: int,
    *,
    block_ms: int = DEFAULT_BLOCK_MS,
    min_ts: int | None = None,
    max_ts: int | None = None,
) -> int:
    """Build a coarser rollup tier FROM a finer one — the M3 cascading
    aggregated-namespace chain (10s raw → 5m → 1h …): a coarse window's
    aggregates combine the fine windows it contains by each
    aggregation's own merge rule (sum of sums, sum of counts, min of
    mins, max of maxes, last by latest fine window), so the coarse tier
    never re-reads raw data. At 100 TB this is the difference between
    re-scanning a year of raw samples and folding 12× fewer rollup rows
    per tier step.

    Checkpoint-duplicate fine rows are pre-merged per (series, fine
    window) first — combining duplicates into the coarse window would
    double-count sums. Appends block-partitioned rows in the same
    physical schema as :func:`start_downsample`; returns rows written.
    The count rides the write as an observed metric and is
    INFORMATIONAL: Spark guarantees exactly-once accumulator updates
    only in result stages, so a stage retry or speculative task can
    over-count it relative to the rows actually committed (r13
    advisory) — treat it as telemetry, not an audit total, or disable
    speculation for these jobs.  The same caveat applies to
    :func:`~time_series_db_spark.streaming.rules.backfill_rules`'s
    per-record counts.

    Incremental ranges MUST be resolution-aligned: ``min_ts`` /
    ``max_ts`` are rejected unless they are multiples of
    ``resolution_ms``. An unaligned range would split a coarse window
    across two runs, appending two PARTIAL rows with different totals
    for the same (series, window) — and :func:`read_rollup`'s ANY_WINS
    merge (correct for the identical-totals replay case) would silently
    drop one instead of combining. Aligned, non-overlapping ranges make
    every append either a whole window or a replay of identical totals,
    which is exactly the invariant ANY_WINS assumes.
    """
    if resolution_ms <= 0:
        raise ValueError(f"resolution_ms must be positive, got {resolution_ms}")
    for nm, bound in (("min_ts", min_ts), ("max_ts", max_ts)):
        if bound is not None and bound % resolution_ms != 0:
            raise ValueError(
                f"cascade_rollup {nm}={bound} is not aligned to "
                f"resolution_ms={resolution_ms}: an unaligned range would "
                f"split a coarse window into partial rows that ANY_WINS "
                f"dedup cannot merge (use "
                f"{bound - bound % resolution_ms} or "
                f"{bound - bound % resolution_ms + resolution_ms})"
            )
    fine = prune_blocks(
        spark.read.schema(ROLLUP_SCHEMA).parquet(fine_path),
        min_ts, max_ts, block_ms,
    )
    # pre-merge checkpoint duplicates per fine window. A replayed
    # window re-emits IDENTICAL totals (append mode only emits closed
    # windows computed from full state), so the correct dedup is
    # any-one-row — summing would double-count. (Streaming-sink tables
    # read via _spark_metadata can't even surface such duplicates; this
    # guards tables assembled by batch backfills/copies without a log.)
    # One explicit series_key repartition serves BOTH aggregations
    # (guide §2.4 — two operations keyed the same way share one
    # exchange): hash clustering on series_key alone satisfies the
    # (series_key, ts) dedup AND the (series_key, window) rollup, so
    # neither groupBy inserts its own shuffle.  Column-only (no
    # numPartitions): a fixed defaultParallelism pin forced a fine-tier
    # table into #cores partitions — a spill hazard at 100 TB and an
    # AQE-sizing override (guide §2.2/§5); with the count unset the
    # exchange uses spark.sql.shuffle.partitions and AQE coalesces or
    # splits it by measured bytes.
    fine = fine.repartition(F.col("series_key"))
    fine = fine.groupBy("series_key", "ts").agg(
        F.first("value_sum").alias("value_sum"),
        F.first("value_count").alias("value_count"),
        F.first("value_min").alias("value_min"),
        F.first("value_max").alias("value_max"),
        F.first("value_last").alias("value_last"),
    )
    coarse = (
        fine.withColumn(
            "__wts", F.col("ts") - F.col("ts") % F.lit(int(resolution_ms))
        )
        .groupBy("series_key", "__wts")
        .agg(
            F.sum("value_sum").alias("value_sum"),
            F.sum("value_count").alias("value_count"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
            F.expr("max_by(value_last, ts)").alias("value_last"),
        )
        .select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.col("__wts").alias("ts"),
            *[f"value_{a}" for a in ROLLUP_AGGS],
        )
        .withColumn(
            "block", F.col("ts") - F.col("ts") % F.lit(int(block_ms))
        )
    )
    # row count rides the write as an observed metric — one action over
    # the plan instead of a count job + a write job over a persisted
    # intermediate (r13; the backfill_rules Observation pattern). At
    # 100 TB this removes a full extra pass (and the cache pressure of
    # persisting the coarse tier) from every cascade step.
    from pyspark.sql import Observation

    obs = Observation()
    coarse = coarse.observe(obs, F.count(F.lit(1)).alias("n"))
    write_blocks(coarse, coarse_path)
    return int(obs.get.get("n", 0) or 0)
