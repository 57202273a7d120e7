"""Sources: parquet table loaders + the events→metrics sample mapping.

The reference's ``fetch`` stage is a tag-filtered scan over a time range
(dsl/SourceBuilderVisitor.java:911-940 builds label term/wildcard queries +
a timestamp_range filter). In Spark that is a parquet scan with label and
time predicates — Catalyst pushes both into the scan (PushedFilters), which
replaces the reference's Lucene inverted-index filtering and
TimeRangePruningQuery segment pruning (SURVEY.md §4.1 rows 2-3).

The driver's synthetic ``events`` table plays the role of the sample
stream (FIXTURES.md §4): labels = {name: event_type, user: user_id,
region: r<user_id % 4>}, timestamp = epoch millis of ts, value = value.
``oracle_samples_cte`` is the *same* mapping in ANSI SQL so every operator
can be differentially tested against DuckDB (the driver's correctness
gate and SURVEY.md §5 layer-4 analog).

Determinism note: within one grid bucket the "last write wins" sample is
chosen by max ``event_id`` (ingest order; verified monotone with ts),
mirroring decode-order LWW in TimeSeriesUnfoldAggregator.java:305-320.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_db_spark import cache
from time_series_db_spark.model import SAMPLE_COLS, SeriesFrame, series_key_expr

#: 1h grid over the events table's 2024-01 span
DEFAULT_STEP_MS = 3_600_000
#: 2024-01-01T00:00:00Z
EVENTS_MIN_TS = 1_704_067_200_000
#: 2024-01-31T00:00:00Z (exclusive)
EVENTS_MAX_TS = 1_706_659_200_000

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


#: timestamp columns per table.  The driver has generated these two ways
#: across rounds: parquet TIMESTAMP(NANOS) (readable only as BIGINT nanos
#: via the nanosAsLong legacy flag) and plain timestamp[us] (read as
#: TIMESTAMP_NTZ).  The loader normalizes both to session-TZ TimestampType
#: (session is pinned UTC — session.py:25) so downstream code and the
#: DuckDB oracle (naive-as-UTC `epoch_ms`) see the same instants.
_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


#: every session-lived handle memo of the sources package (see
#: :func:`memo_by_file`); :func:`clear` empties them all
_MEMOS: "list[WeakKeyDictionary]" = []


def handle_memo() -> "WeakKeyDictionary":
    """A new session → {key: (file stamp, handle)} memo, weakly keyed by
    session so a stopped session's handles are dropped with it."""
    memo = WeakKeyDictionary()
    _MEMOS.append(memo)
    return memo


def clear() -> None:
    """Drop every memoised reader and fetch handle, in every session."""
    for memo in _MEMOS:
        memo.clear()


def file_stamp(path: str) -> int | None:
    """Modification time (ns) of a local path — a dataset directory's
    moves when a file is added to, removed from or renamed into it — or
    ``None`` when the path is not on the local file system."""
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


def memo_by_file(memo, spark: SparkSession, key, path: str, build):
    """``build()``'s handle memoised under ``key``, rebuilt when ``path``
    was modified since: the handle's file listing was made when it was
    built, so a rewritten fixture needs a new one.  Also notes the read
    with the query cache (:func:`~time_series_db_spark.cache.note_inputs`),
    which releases warm frames and probe memos built on the old files."""
    stamp = file_stamp(path)
    cache.note_inputs(path, stamp)
    per = memo.setdefault(spark, {})
    hit = per.get(key)
    if hit is None or hit[0] != stamp:
        hit = per[key] = (stamp, build())
    return hit[1]


#: session → {parquet path: (stamp, (raw reader DataFrame, dtypes))}.
#: Every catalog entry reads the testdata tables; rebuilding the reader
#: per query re-lists the directory, re-infers the schema (a driver-side
#: parquet-footer job) and pays ~100 py4j round trips — pure per-query
#: fixed cost at any scale (guide §1.2: fewer jobs per query).  The memo
#: holds only the READER HANDLE (an immutable lazy plan) — never data or
#: results: every action still computes from the parquet files, and a
#: rewritten file gets a new reader (:func:`memo_by_file`).
_RAW_READERS = handle_memo()


def _read_testdata(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict[str, str]]:
    def build():
        # TIMESTAMP(NANOS) columns are only readable as int64 under the
        # legacy flag; set before the first read of each path
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return df, dict(df.dtypes)

    return memo_by_file(_RAW_READERS, spark, path, path, build)


def events_path(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


def _date_ns(date: str) -> int:
    """'YYYY-MM-DD' → epoch nanos (UTC midnight)."""
    import datetime

    d = datetime.datetime.strptime(date, "%Y-%m-%d").replace(
        tzinfo=datetime.timezone.utc
    )
    return int(d.timestamp()) * 1_000_000_000


def _ms_naive_str(ms: int) -> str:
    """epoch millis → 'YYYY-MM-DD HH:MM:SS.ffffff' naive-UTC string, the
    literal form that casts exactly to both TIMESTAMP and TIMESTAMP_NTZ."""
    import datetime

    d = datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=ms)
    return d.strftime("%Y-%m-%d %H:%M:%S.%f")


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: dict[str, tuple[str | None, str | None]] | None = None,
) -> DataFrame:
    """Load one table; timestamp columns come back as TimestampType.

    ``ts_range={'col': (lo_date, hi_date)}`` applies ``lo <= col < hi``
    (either bound optional) against the RAW int64 nanos column *before*
    the timestamp conversion — the predicate then reaches the parquet scan
    (PushedFilters) and prunes row groups by min/max stats. Filtering the
    converted column instead wraps it in timestamp_micros(...) and pushes
    nothing (SURVEY.md §4.1 rows 2-3).
    """
    df, dtypes = _read_testdata(spark, f"{sf_dir}/{name}.parquet")
    for c, (lo, hi) in (ts_range or {}).items():
        if dtypes.get(c) == "bigint":
            # TIMESTAMP(NANOS) read as raw int64 — filter before any
            # conversion so the predicate reaches PushedFilters
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(_date_ns(lo)))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(_date_ns(hi)))
        elif (dtypes.get(c) or "").startswith("timestamp") or dtypes.get(c) == "date":
            # ms/us-precision (or date32) columns arrive native; cast the
            # LITERAL to the column's exact type (TIMESTAMP vs TIMESTAMP_NTZ
            # vs DATE don't coerce under ANSI) so the constant-folded
            # predicate pushes down to parquet directly
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo).cast(dtypes[c]))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(hi).cast(dtypes[c]))
        else:
            # a silently unpushed range predicate is a full scan at 100 TB —
            # fail loudly when a future driver round emits a new layout
            raise TypeError(
                f"ts_range on {name}.{c}: unhandled dtype "
                f"{dtypes.get(c)!r}; add a pushdown branch"
            )
    for c in _TS_COLS.get(name, []):
        if dtypes.get(c) == "bigint":
            # floor division via pmod (not `div`, which truncates toward
            # zero): keeps pre-1970 nanos consistent with the NTZ branch
            # and DuckDB's epoch_ms flooring
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"(({c}) - pmod({c}, 1000)) div 1000")),
            )
        elif dtypes.get(c) == "timestamp_ntz":
            # naive-UTC wall clock → session-TZ (UTC) instant; filters above
            # already ran against the raw column, so pushdown is unaffected
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _raw_samples(
    spark: SparkSession,
    sf_dir: str,
    min_ts: int,
    max_ts: int,
    where=None,
):
    """Pre-alignment events projection: labels + raw epoch-ms ts +
    (event_id, value) carriers, with the time-range predicate on the RAW
    stored column so it reaches the parquet scan.

    Filter the raw ts column BEFORE any conversion: a range predicate on
    the stored column is pushed into the parquet scan (PushedFilters:
    GreaterThanOrEqual/LessThan on ts) and prunes row groups via min/max
    stats — the reference's TimeRangePruningQuery segment skip
    (SURVEY.md §4.1 row 3).  Wrapping the column in a conversion first
    would reduce the pushdown to IsNotNull and scan every row group.
    Two physical layouts exist across driver rounds: TIMESTAMP(NANOS)
    read as BIGINT nanos (legacy flag) and timestamp[us] read as
    TIMESTAMP_NTZ; both floor to epoch millis like DuckDB's epoch_ms.
    """
    ev, ev_dtypes = _read_testdata(spark, events_path(sf_dir))
    ts_type = ev_dtypes.get("ts", "bigint")
    if ts_type == "bigint":
        rng = (F.col("ts") >= F.lit(min_ts * 1_000_000)) & (
            F.col("ts") < F.lit(max_ts * 1_000_000)
        )
        # integer FLOOR division: exact long arithmetic (no double
        # round-trip on 1e18-scale nanos), and pmod keeps pre-1970
        # timestamps flooring like unix_millis / DuckDB's epoch_ms
        # (`div` alone truncates toward zero)
        raw_ts = F.expr("(ts - pmod(ts, 1000000)) div 1000000")
    else:
        # constant-folded literal casts keep the predicate pushdown-able
        rng = (
            F.col("ts") >= F.lit(_ms_naive_str(min_ts)).cast(ts_type)
        ) & (F.col("ts") < F.lit(_ms_naive_str(max_ts)).cast(ts_type))
        # NTZ naive-UTC → UTC-session instant → floor millis
        raw_ts = F.unix_millis(F.col("ts").cast("timestamp"))
    samples = (
        ev.filter(rng)
        .select(
            F.col("event_type").alias("name"),
            F.col("user_id").cast("string").alias("user"),
            F.concat(F.lit("r"), (F.col("user_id") % 4).cast("string")).alias("region"),
            F.concat(F.lit("r"), (F.col("user_id") % 2).cast("string")).alias("shard"),
            raw_ts.alias("raw_ts"),
            F.col("event_id"),
            F.col("value"),
        )
    )
    if where is not None:
        samples = samples.filter(where)
    return samples


def fetch_series_identities(
    spark: SparkSession,
    sf_dir: str,
    min_ts: int = EVENTS_MIN_TS,
    max_ts: int = EVENTS_MAX_TS,
    where=None,
) -> "DataFrame":
    """Distinct series identities straight off the events scan — the
    stats fast path, result-identical to
    ``fetch_events(...).distinct_series()`` (grid alignment merges
    samples *within* a series and never creates or drops an identity)
    but without the LWW grid aggregation: one 4-column distinct with
    map-side partial aggregation, and Catalyst prunes ``value`` /
    ``event_id`` out of the scan since only the label columns survive.
    Returns ``(series_key, labels, alias)`` — the
    :meth:`SeriesFrame.distinct_series` shape."""
    ids = (
        _raw_samples(spark, sf_dir, min_ts, max_ts, where=where)
        .select("name", "user", "region", "shard")
        .distinct()
    )
    return (
        ids.select(
            F.create_map(
                F.lit("name"), F.col("name"),
                F.lit("user"), F.col("user"),
                F.lit("region"), F.col("region"),
                F.lit("shard"), F.col("shard"),
            ).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
        )
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias")
    )


#: session → {(sf_dir, step, bounds): (stamp, SeriesFrame)} — the plain
#: (no label predicate) fetch frame per argument set.  A SeriesFrame is a
#: frozen wrapper over an immutable lazy plan, so the handle is reusable
#: across queries exactly like the reader handle above; rebuilding it
#: per query cost ~100 py4j round trips of pure plan re-construction.
#: Entries with a ``where`` Column bypass the memo (Columns are not
#: hashable keys); the language path memoizes those by filter signature
#: in sources/m3source.py.
_FETCH_MEMO = handle_memo()


def fetch_events(
    spark: SparkSession,
    sf_dir: str,
    step: int = DEFAULT_STEP_MS,
    min_ts: int = EVENTS_MIN_TS,
    max_ts: int = EVENTS_MAX_TS,
    where=None,
) -> SeriesFrame:
    """``fetch`` over the events-as-metrics mapping.

    Scan → optional label predicate (pushed down) → grid alignment with
    deterministic LWW (max event_id per bucket) → SeriesFrame.
    """
    if where is None:
        return memo_by_file(
            _FETCH_MEMO, spark, (sf_dir, step, min_ts, max_ts),
            events_path(sf_dir),
            lambda: _fetch_events_build(spark, sf_dir, step, min_ts, max_ts, None),
        )
    return _fetch_events_build(spark, sf_dir, step, min_ts, max_ts, where)


def _fetch_events_build(
    spark: SparkSession,
    sf_dir: str,
    step: int,
    min_ts: int,
    max_ts: int,
    where,
) -> SeriesFrame:
    samples = _raw_samples(spark, sf_dir, min_ts, max_ts, where=where)
    grid_ts = (F.col("raw_ts") - (F.col("raw_ts") % F.lit(step))).alias("__grid")
    aligned = (
        samples.withColumn("__grid", grid_ts)
        .groupBy("name", "user", "region", "shard", "__grid")
        .agg(F.expr("max_by(value, event_id)").alias("value"))
    )
    out = aligned.select(
        F.create_map(
            F.lit("name"), F.col("name"),
            F.lit("user"), F.col("user"),
            F.lit("region"), F.col("region"),
            F.lit("shard"), F.col("shard"),
        ).alias("labels"),
        F.lit(None).cast("string").alias("alias"),
        F.col("__grid").alias("ts"),
        F.col("value"),
    ).withColumn("series_key", series_key_expr()).select(*SAMPLE_COLS)
    return SeriesFrame(df=out, step=step, min_ts=min_ts, max_ts=max_ts)


def oracle_samples_cte(
    step: int = DEFAULT_STEP_MS,
    min_ts: int = EVENTS_MIN_TS,
    max_ts: int = EVENTS_MAX_TS,
    extra_where: str = "",
) -> str:
    """DuckDB CTE producing the identical aligned sample stream.

    Keep in lockstep with :func:`fetch_events` — this is the oracle side of
    the differential gate.
    """
    where = f"WHERE epoch_ms(ts) >= {min_ts} AND epoch_ms(ts) < {max_ts}"
    if extra_where:
        where += f" AND ({extra_where})"
    return f"""
samples AS (
  SELECT
    event_type AS name,
    CAST(user_id AS VARCHAR) AS "user",
    'r' || CAST(user_id % 4 AS VARCHAR) AS region,
    'r' || CAST(user_id % 2 AS VARCHAR) AS shard,
    epoch_ms(ts) - (epoch_ms(ts) % {step}) AS ts,
    arg_max(value, event_id) AS value
  FROM events
  {where}
  GROUP BY 1, 2, 3, 4, 5
)"""
