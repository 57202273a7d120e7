"""Event sessionization — gap-based user sessions over a batch frame.

A training-data pipeline's session construction step (grouping raw
events into user sessions before feature extraction), beyond the
reference's query surface: pure window expressions with a DuckDB oracle
(catalog ``sessionize_events``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_ms: int = 1_800_000,
) -> DataFrame:
    """Gap-based sessions over a batch event frame: a new session starts
    wherever a user's inter-event gap exceeds ``gap_ms``.

    Output: (user, session_id, session_start, session_end, n_events,
    duration_ms) — ``session_id`` numbers a user's sessions from 1 in
    time order; timestamps are epoch ms.

    100 TB shape: one window partitioned by user (users are many and
    hash-balanced — no skew beyond a single user's history, which is the
    minimal sequential unit for gap detection) feeding one hash
    aggregation on (user, session) with map-side partials.
    """
    if gap_ms <= 0:
        raise ValueError("session gap must be a positive duration")
    ts_ms = F.col(ts_col)
    # events arrive as TimestampType from load_table; epoch-ms bigints
    # pass through (both layouts appear across driver rounds)
    if dict(df.dtypes).get(ts_col, "").startswith("timestamp"):
        ts_ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("user"), ts_ms.alias("__ts"))
    w = Window.partitionBy("user").orderBy("__ts")
    new_session = F.when(
        F.lag("__ts").over(w).isNull()
        | ((F.col("__ts") - F.lag("__ts").over(w)) > F.lit(int(gap_ms))),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user").orderBy("__ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = base.withColumn(
        "session_id", F.sum(new_session).over(cum).cast("long")
    )
    return (
        sessions.groupBy("user", "session_id")
        .agg(
            F.min("__ts").alias("session_start"),
            F.max("__ts").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .withColumn(
            "duration_ms", (F.col("session_end") - F.col("session_start"))
        )
    )
