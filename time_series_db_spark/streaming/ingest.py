"""Structured Streaming ingest: the reference's write path, Spark-first.

Reference ingest lifecycle (SURVEY.md §3.4): bulk/doc JSON →
``TSDBEngine.index`` (index/engine/TSDBEngine.java:341) → parse labels/
timestamp/value (``TSDBDocument.fromParsedDocument``, :399-408) → in-memory
``Head`` append (core/head/Head.java:52) → chunk close on size/time →
``ClosedChunkIndexManager`` flush into time-blocked closed indices.
Errors: ``TSDBOutOfOrderException`` (sample older than the ooo cutoff,
setting ``index.tsdb_engine.ooo.cutoff`` — TSDBPlugin.java:293) and
``TSDBEmptyLabelException`` (no labels).

Spark mapping (SURVEY.md §2 streaming notes + §7.1 step 7):

============================  =============================================
reference concept             Structured Streaming equivalent
============================  =============================================
bulk JSON ingest doc          ``readStream.schema(INGEST_SCHEMA).json(dir)``
ooo cutoff                    ``withWatermark("event_time", cutoff)``
same-(series,ts) dedup        ``dropDuplicatesWithinWatermark`` —
(SampleMerger ANY_WINS,       first-write-wins inside the watermark window
query/utils/SampleMerger:20)
Head → chunk close → flush    micro-batch commit of parquet files into the
                              time-block partition (``block=`` dirs ≈
                              2h closed-index ranges)
"visible after refresh"       micro-batch commit latency
empty-label rejection         filter; rejected rows counted via accumulator
============================  =============================================

The ingest document format matches the reference README ("Index some
metrics", ~line 96): ``{"labels": "name v name2 v2 …"`` (space-separated
key value pairs), ``"timestamp"``: epoch millis, ``"value"``: double}``.

Scale design: the table is partitioned by ``block`` (2h of epoch time, the
reference's closed-index granularity) so queries prune partitions by time
exactly like ``TimeRangePruningQuery`` prunes segments, and retention drops
whole directories. Within a block, files carry parquet min/max stats on
``series_key`` and ``ts`` for row-group pruning. No per-series state is
kept on any single executor — dedup state is hash-partitioned by
(series_key, ts), so 1000 executors share it evenly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from time_series_db_spark.model import labels_from_key_expr, series_key_expr

#: 2h time blocks — the reference's first compaction tier / closed-index
#: range (core/compaction/SizeTieredCompaction.java:1-20 javadoc).
DEFAULT_BLOCK_MS = 2 * 3_600_000

#: reference default ooo cutoff is engine-configured; we default to 1h
#: (index.tsdb_engine.ooo.cutoff — TSDBPlugin.java:293).
DEFAULT_OOO_CUTOFF = "1 hour"

INGEST_SCHEMA = T.StructType(
    [
        T.StructField("labels", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

#: physical schema of the metrics table (block is the partition column).
#: Only this package writes the table (the streaming sink,
#: :func:`write_blocks`, the rule sinks), so readers
#: pin the schema instead of inferring it: inference reads a parquet
#: footer in a Spark job on every read.
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("series_key", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("block", T.LongType()),
    ]
)
METRICS_COLS = METRICS_SCHEMA.fieldNames()


def parse_ingest(raw: DataFrame, block_ms: int = DEFAULT_BLOCK_MS) -> DataFrame:
    """Ingest documents → canonical sample rows.

    Mirrors ``TSDBDocument.fromParsedDocument`` (TSDBEngine.java:399-408):
    the space-separated ``"k v k2 v2"`` label string becomes a sorted label
    map; documents with no labels are dropped (TSDBEmptyLabelException) as
    are null timestamps/values (parse failure).
    """
    pairs = F.split(F.trim(F.col("labels")), r"\s+")
    n = F.size(pairs)
    label_map = F.map_from_arrays(
        F.filter(pairs, lambda _, i: i % 2 == 0),
        F.filter(pairs, lambda _, i: i % 2 == 1),
    )
    return (
        raw.filter(
            F.col("labels").isNotNull()
            & (F.trim(F.col("labels")) != "")
            & F.col("timestamp").isNotNull()
            & F.col("value").isNotNull()
        )
        .filter((n % 2 == 0) & (n > 0))
        .select(
            label_map.alias("labels"),
            F.col("timestamp").alias("ts"),
            F.col("value"),
        )
        .withColumn("series_key", series_key_expr())
        .withColumn("block", F.col("ts") - F.col("ts") % F.lit(block_ms))
        .select(*METRICS_COLS)
    )


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    ooo_cutoff: str,
    block_ms: int,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The ingest documents landing in ``source_dir`` as a stream of
    :func:`parse_ingest` rows plus an ``event_time`` column behind the
    ``ooo_cutoff`` watermark — the front every JSON-fed leg shares (raw
    ingest, rollups, recording and alert rules)."""
    reader = spark.readStream.schema(INGEST_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        parse_ingest(reader.json(source_dir), block_ms)
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", ooo_cutoff)
    )


def start_block_sink(
    df: DataFrame,
    table_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Append a stream to the block-partitioned parquet table at
    ``table_path`` through Spark's file sink. The sink's
    ``_spark_metadata`` log makes each micro-batch visible to batch
    reads exactly once, and from then on batch reads list the table's
    files from that log (see :class:`SinkLoggedTableError`). The
    checkpoint defaults to ``<table>/_checkpoint``; ``available_now``
    drains the current input and stops."""
    writer = (
        df.writeStream.format("parquet")
        .partitionBy("block")
        .option("path", table_path)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(table_path, "_checkpoint"),
        )
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class SinkLoggedTableError(RuntimeError):
    """A batch writer or a maintenance job was pointed at a table that a
    streaming file sink writes. Batch reads of such a table list its
    files from the sink's ``_spark_metadata`` log, not the directory:
    files a batch job adds are never read, and files it removes or
    moves break the next read with ``FILE_NOT_EXIST``."""


def check_not_sink_logged(table_path: str, action: str) -> None:
    """Raise :class:`SinkLoggedTableError` when the (local) table at
    ``table_path`` has a streaming file sink's log."""
    if os.path.isdir(os.path.join(table_path, "_spark_metadata")):
        raise SinkLoggedTableError(
            f"cannot {action} {table_path}: a streaming file sink writes "
            f"this table (it has a _spark_metadata log), and batch reads "
            f"see only the files that log names, so files added here "
            f"would never be read and files removed here would break the "
            f"next read"
        )


def start_ingest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    *,
    ooo_cutoff: str = DEFAULT_OOO_CUTOFF,
    block_ms: int = DEFAULT_BLOCK_MS,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the ingest stream: JSON docs in ``source_dir`` → partitioned
    parquet metrics table at ``table_path``.

    ``ooo_cutoff`` is the Structured Streaming watermark — samples arriving
    more than the cutoff behind the max observed event time are dropped,
    the reference's ``TSDBOutOfOrderException`` behavior as a data-flow
    rule instead of a per-doc error. Duplicate (series, ts) samples inside
    the watermark window are deduplicated first-write-wins, the reference's
    ``SampleMerger`` ANY_WINS policy.

    ``available_now=True`` drains the current file set and stops — used by
    tests and batch backfills; the default is a continuous micro-batch
    stream ("new series visible after refresh" ≈ commit latency).
    """
    samples = (
        ingest_stream(
            spark, source_dir, ooo_cutoff, block_ms, max_files_per_trigger
        )
        .dropDuplicatesWithinWatermark(["series_key", "ts"])
        .drop("event_time")
        # ingestion-lag gauge (TSDBIngestionLagIndexingListener.java:152
        # append lag = now − min sample ts at append time): observed
        # per micro-batch, surfaced in query progress under
        # observedMetrics.tsdb_ingestion — read via ingestion_lag()
        .observe(
            "tsdb_ingestion",
            (
                F.max(F.unix_millis(F.current_timestamp()) - F.col("ts"))
            ).alias("append_lag_max_ms"),
            F.min("ts").alias("min_sample_ts"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return start_block_sink(samples, table_path, checkpoint_dir, available_now)


def ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    table_path: str,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> None:
    """Batch ingest (the bulk-API analog without a stream): parse + dedup
    (first wins per (series, ts), matching SampleMerger) + append."""
    samples = parse_ingest(docs, block_ms).dropDuplicates(["series_key", "ts"])
    write_blocks(samples, table_path)


def write_blocks(df: DataFrame, path: str) -> None:
    """Append a block-partitioned frame with each time block clustered
    into ONE task before the dynamic-partition write. Without the
    clustering every upstream task holds rows of MANY blocks, and
    ``partitionBy`` fans out tasks × blocks files — a 360-block table
    written from 32 tasks is ~11k tiny files per append (measured: the
    dominant cost of batch backfills at bench scale). Clustered, the
    file count equals the block count; per-block volume is bounded by
    (series × samples per block), the same unit every reader prunes
    on, so the write task skew is bounded too. A table a streaming
    file sink writes raises :class:`SinkLoggedTableError`: its reads
    would never see the appended files."""
    check_not_sink_logged(path, "append blocks to")
    df.repartition(F.col("block")).write.mode("append").partitionBy(
        "block"
    ).parquet(path)


def ingestion_lag(query: StreamingQuery) -> dict | None:
    """Latest ingestion-lag gauge for an ingest stream — the analog of
    the reference's ``tsdb.ingestion.append.lag`` /
    ``tsdb.ingestion.refresh.lag`` histograms
    (TSDBIngestionLagIndexingListener.java:152,254).

    Reads the ``tsdb_ingestion`` observed metric from the most recent
    micro-batch that processed data:

    - ``append_lag_max_ms`` — max(processing wall time − sample event
      time) during the batch (append lag, recorded executor-side while
      rows flow);
    - ``refresh_lag_ms``    — batch progress timestamp − min sample
      event time (the "visible after refresh" lag: data is queryable
      only once the micro-batch commits, exactly the reference's
      refresh-completion gate);
    - ``n_samples``         — rows appended in the batch.

    Returns None when no batch with data has completed yet.
    """
    import json
    from datetime import datetime, timezone

    for progress in reversed(query.recentProgress):
        # StreamingQueryProgress subclasses dict but holds Row values;
        # its .json form is plain data
        raw = getattr(progress, "json", None)
        if raw is not None:
            progress = json.loads(raw)
        om = (progress.get("observedMetrics") or {}).get("tsdb_ingestion")
        if not om or not om.get("n_samples"):
            continue
        commit_ms = int(
            datetime.fromisoformat(
                progress["timestamp"].replace("Z", "+00:00")
            )
            .replace(tzinfo=timezone.utc)
            .timestamp()
            * 1000
        )
        return {
            "append_lag_max_ms": om["append_lag_max_ms"],
            "refresh_lag_ms": commit_ms - om["min_sample_ts"],
            "n_samples": om["n_samples"],
            "batch_id": progress["batchId"],
        }
    return None


def prune_blocks(
    df: DataFrame,
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> DataFrame:
    """Restrict a block-partitioned store frame (metrics or rollup) to
    ``[min_ts, max_ts)``. The ``block`` predicate prunes whole partition
    directories (the reference's ``TimeRangePruningQuery`` segment skip,
    SURVEY.md §4.1 row 3); the ``ts`` predicate then prunes row groups
    via parquet min/max stats."""
    if min_ts is not None:
        df = df.filter(
            (F.col("block") >= F.lit(min_ts - min_ts % block_ms))
            & (F.col("ts") >= F.lit(min_ts))
        )
    if max_ts is not None:
        df = df.filter((F.col("block") < F.lit(max_ts)) & (F.col("ts") < F.lit(max_ts)))
    return df


def scan_metrics(
    spark: SparkSession,
    table_path: str,
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> DataFrame:
    """The pruned raw rows of a metrics table, read with
    :data:`METRICS_SCHEMA` — duplicates NOT merged. A directory with no
    committed file yet reads as empty; a missing path raises
    ``PATH_NOT_FOUND``."""
    return prune_blocks(
        spark.read.schema(METRICS_SCHEMA).parquet(table_path),
        min_ts, max_ts, block_ms,
    )


def dedup_samples(df: DataFrame) -> DataFrame:
    """One sample per (series, ts) of a scan's ``value`` column, taken
    arbitrarily among its duplicates — the reference's SampleMerger
    ANY_WINS policy (query/utils/SampleMerger.java, applied via
    DedupIterator at TimeSeriesUnfoldAggregator.java:270-277). Labels
    are decoded from ``series_key``, so a filter on them stays below
    the aggregation."""
    return (
        df.groupBy("series_key", "ts")
        .agg(F.first("value").alias("value"))
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select("series_key", "labels", "ts", "value")
    )


def read_metrics(
    spark: SparkSession,
    table_path: str,
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> DataFrame:
    """Scan the ingested metrics table with time-block partition pruning
    (:func:`prune_blocks`), one sample per (series, ts).

    Duplicate (series, ts) rows — a replayed epoch, two batch appends of
    the same document — resolve ANY_WINS (:func:`dedup_samples`): one of
    them, arbitrarily. The stream's own duplicates are exact copies, so
    which one wins only matters for two appends that disagree. The
    schema is pinned (:data:`METRICS_SCHEMA`), so building the frame
    runs no Spark job. ``MetricsSource`` reads :func:`scan_metrics`
    instead and folds the dedup into its grid alignment.
    """
    return dedup_samples(
        scan_metrics(spark, table_path, min_ts, max_ts, block_ms)
    )
