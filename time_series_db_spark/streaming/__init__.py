"""Structured Streaming ingest + metrics-table maintenance (SURVEY.md §3.4,
§7.1 step 7): the reference's TSDBEngine write path and retention/compaction
background jobs, rebuilt on Spark micro-batches and partitioned parquet."""

from time_series_db_spark.streaming.ingest import (  # noqa: F401
    DEFAULT_BLOCK_MS,
    DEFAULT_OOO_CUTOFF,
    INGEST_SCHEMA,
    SinkLoggedTableError,
    ingest_batch,
    ingestion_lag,
    parse_ingest,
    read_metrics,
    start_ingest,
)
from time_series_db_spark.streaming.maintenance import (  # noqa: F401
    apply_retention,
    compact_blocks,
    list_blocks,
)
from time_series_db_spark.streaming.rules import (  # noqa: F401
    apply_rule_frame,
    backfill_recording_rule,
    backfill_rules,
    compile_alert,
    compile_rule,
    evaluate_alert_frame,
    start_alert_rule,
    start_recording_rule,
)
from time_series_db_spark.streaming.downsample import (  # noqa: F401
    cascade_rollup,
    read_rollup,
    start_downsample,
)
