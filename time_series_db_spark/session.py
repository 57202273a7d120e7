"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are what
we would ship on a multi-executor cluster (AQE on, sensible shuffle
partitioning, Arrow for the few Pandas-UDF code paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the driver heap never defaults above this
MAX_DRIVER_MEM_MB = 16 * 1024


def driver_memory(override: str | None, physical_bytes: int) -> str:
    """``spark.driver.memory``: ``override`` (``$SPARK_DRIVER_MEM``) when
    set, else half of the host's physical memory, at most 16g.  A fixed
    16g heap on a 15 GB host lets the JVM grow past what the host has."""
    if override:
        return override
    return f"{min(physical_bytes // 2 // 2**20, MAX_DRIVER_MEM_MB)}m"


def get_spark(app_name: str = "time_series_db_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by SHUFFLE bytes and cannot
        # see downstream fan-out: a kilobyte-scale aggregate feeding a
        # grid/sequence explode (densify's packed-series table: ~0.8 MB
        # shuffle -> 5.3M generated rows at sf0.1) gets coalesced to ONE
        # partition and the explode serializes on one core.  Lowering
        # the coalescer's floor keeps such stages at cluster parallelism
        # (measured r13: transform_null 2.4->1.1 s, changed 3.1->1.2 s,
        # unbounded keep_last_value 6.9->1.5 s).  Scale-safe: with
        # parallelism-first coalescing (default on) this floor only
        # matters when total shuffle bytes < parallelism x 1 MB — large
        # shuffles are split by total/parallelism regardless.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame API call with a call-site
        # capture (inspect stack walk + a conf read + set/clear of the
        # JVM-side PySparkCurrentOrigin) so error messages can point at
        # user code.  That is ~4 extra py4j round trips per API call —
        # profiled r14: plan BUILD time of the language-path queries is
        # dominated by py4j (~4k commands per query), and disabling the
        # debug context roughly halves it (m3ql_multi_burn_rate build
        # 1.67 -> 0.98 s).  Driver-side only, scale-independent; errors
        # still carry the full Python traceback.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            driver_memory(
                os.environ.get("SPARK_DRIVER_MEM"),
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            ),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
