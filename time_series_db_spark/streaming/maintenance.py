"""Metrics-table maintenance: retention and compaction.

Reference equivalents (SURVEY.md §1.2):

- **Retention** — ``TimeBasedRetention`` (core/retention/
  TimeBasedRetention.java) drops whole aged closed indices on a schedule
  (settings ``index.tsdb_engine.retention.time`` / ``.frequency`` —
  TSDBPlugin.java:136-293). Our table is partitioned by time ``block``,
  so retention = deleting partition directories whose entire block lies
  before the horizon. No data rewrite, O(#partitions) metadata work —
  the same property the reference gets from dropping indices.

- **Compaction** — ``SizeTieredCompaction`` (core/compaction/
  SizeTieredCompaction.java:1-20) groups closed indices into 2h/6h/18h/54h
  tiers to bound index count. The Spark-native analog is *file* compaction
  (Delta ``OPTIMIZE``): micro-batch ingest leaves many small files per
  block; ``compact_blocks`` rewrites each block's files into
  size-targeted parquet files sorted by (series_key, ts), restoring scan
  efficiency and tight row-group min/max stats. Partition granularity
  stays at the block size — at 100 TB the partition count is bounded by
  retention (e.g. 90 days / 2h = 1080 partitions), so re-tiering
  partitions buys nothing on Spark where the per-partition fixed cost is
  a directory listing, not an open Lucene index.

Both operations are driver-coordinated metadata jobs plus (for
compaction) one narrow rewrite per block — no shuffles except the
optional sort within a block, which is a local sort per output file.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from time_series_db_spark.streaming.ingest import check_not_sink_logged

_BLOCK_DIR = re.compile(r"^block=(\d+)$")


def list_blocks(table_path: str) -> list[int]:
    """Block partition values present in the table (sorted ascending)."""
    if not os.path.isdir(table_path):
        return []
    out = []
    for name in os.listdir(table_path):
        m = _BLOCK_DIR.match(name)
        if m and os.path.isdir(os.path.join(table_path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def apply_retention(
    table_path: str, retention_ms: int, now_ms: int, block_ms: int
) -> list[int]:
    """Drop every block whose *entire* range [block, block+block_ms) is
    older than ``now - retention`` (TimeBasedRetention semantics: an index
    is only dropped when all its data has aged out). Returns dropped
    block ids. A table a streaming file sink writes raises
    ``SinkLoggedTableError``: its sink log would still name the dropped
    files."""
    check_not_sink_logged(table_path, "apply retention to")
    horizon = now_ms - retention_ms
    dropped = []
    for block in list_blocks(table_path):
        if block + block_ms <= horizon:
            shutil.rmtree(os.path.join(table_path, f"block={block}"))
            dropped.append(block)
    return dropped


def compact_blocks(
    spark: SparkSession,
    table_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    blocks: list[int] | None = None,
) -> list[int]:
    """Rewrite fragmented blocks into few sorted files (OPTIMIZE analog).

    A block qualifies when it holds ≥ ``min_files`` data files. Each
    qualifying block is read, sorted by (series_key, ts) — giving chunk-like
    series locality and tight parquet stats, the property the reference
    gets from per-series XOR chunks — and rewritten as
    ``ceil(bytes/target)`` files. Atomicity: rewrite lands in a temp dir,
    then swaps in (rename) — readers between swaps see either version.
    Returns the compacted block ids. A table a streaming file sink
    writes raises ``SinkLoggedTableError``: its sink log would still
    name the replaced files.
    """
    check_not_sink_logged(table_path, "compact")
    done = []
    for block in blocks if blocks is not None else list_blocks(table_path):
        bdir = os.path.join(table_path, f"block={block}")
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        if len(files) < min_files:
            continue
        nbytes = sum(os.path.getsize(os.path.join(bdir, f)) for f in files)
        nfiles = max(1, -(-nbytes // target_file_bytes))
        tmp = bdir + ".compact.tmp"
        (
            spark.read.parquet(bdir)
            .repartitionByRange(nfiles, F.col("series_key"), F.col("ts"))
            .sortWithinPartitions("series_key", "ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        old = bdir + ".compact.old"
        os.rename(bdir, old)
        os.rename(tmp, bdir)
        shutil.rmtree(old)
        done.append(block)
    return done
