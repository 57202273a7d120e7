"""M3QL fetch sources: tag-filter compilation + the events adapter.

The reference compiles fetch tag filters into Lucene term/wildcard
queries ordered after the time-range filter so segments prune first
(SourceBuilderVisitor.java:911-987). The Spark analog: compile each tag
filter into a Column predicate over the label columns *before* frame
assembly, so Catalyst pushes equality/IN/prefix-LIKE predicates into the
parquet scan (PushedFilters) and the time range prunes row groups via
min/max stats.

Wildcard semantics (Lucene): ``*`` = any sequence, ``?`` = one char;
brace alternation was already expanded to a value list by the AST
transform. Negated keys (``!k:v``) invert the whole key's predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_db_spark import cache
from time_series_db_spark.literals import literal_frame
from time_series_db_spark.model import (
    SAMPLE_COLS,
    SeriesFrame,
    labels_from_key_expr,
    series_key_expr,
)
from time_series_db_spark.sources.tables import (
    DEFAULT_STEP_MS,
    EVENTS_MAX_TS,
    EVENTS_MIN_TS,
    events_path,
    fetch_events,
    handle_memo,
    memo_by_file,
)


def _has_wildcard(value: str) -> bool:
    return "*" in value or "?" in value


def wildcard_predicate(col: Column, value: str) -> Column:
    """One tag value → predicate. Equality when literal; LIKE when the
    wildcard is prefix-shaped (pushes to parquet); RLIKE otherwise."""
    if not _has_wildcard(value):
        return col == F.lit(value)
    like = value.replace("%", r"\%").replace("_", r"\_")
    like = like.replace("*", "%").replace("?", "_")
    return col.like(like)


def tag_filter_predicate(
    col: Column, values: list[str], inverted: bool = False
) -> Column:
    """OR across the value list (Lucene minimum_should_match=1); ``!``
    negates the disjunction."""
    literals = [v for v in values if not _has_wildcard(v)]
    wild = [v for v in values if _has_wildcard(v)]
    pred = None
    if len(literals) > 1:
        pred = col.isin(*literals)
    elif literals:
        pred = col == F.lit(literals[0])
    for w in wild:
        p = wildcard_predicate(col, w)
        pred = p if pred is None else (pred | p)
    if pred is None:
        pred = F.lit(True)
    return ~pred if inverted else pred


def regex_filter_predicate(
    col: Column, patterns: list[str], inverted: bool = False
) -> Column:
    """PromQL regex matcher: fully anchored (``=~"a|b"`` matches the whole
    value), OR across the pattern list."""
    pred = None
    for pat in patterns:
        p = col.rlike(f"^(?:{pat})$")
        pred = p if pred is None else (pred | p)
    if pred is None:
        pred = F.lit(True)
    return ~pred if inverted else pred


#: session → {filter signature: (stamp, SeriesFrame)} — cross-QUERY
#: fetch-frame memo for the language path.  The m3/prom builders already
#: CSE identical fetches WITHIN one query; different catalog entries
#: re-issue the same (filters, range, step) fetch and paid the full plan
#: re-construction (~0.3 s of py4j per fetch).  A SeriesFrame is an
#: immutable lazy plan — memoizing the handle changes no results and
#: caches no data; it also keeps the plan's semanticHash stable, which
#: is what the probe/persist rehydration discipline keys on.  A rewritten
#: events file gets a new handle (``memo_by_file``).
_SRC_FETCH_MEMO = handle_memo()


class EventsSource:
    """M3Source over the driver's ``events`` table (labels: name, user,
    region, shard — see sources/tables.py mapping)."""

    LABEL_COLS = ("name", "user", "region", "shard")

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def fetch(
        self,
        match: dict[str, list[str]],
        inverse: dict[str, list[str]],
        min_ts: int,
        max_ts: int,
        step: int,
        match_re: dict[str, list[str]] | None = None,
        inverse_re: dict[str, list[str]] | None = None,
    ) -> SeriesFrame:
        """``match_re``/``inverse_re`` carry PromQL ``=~``/``!~`` matchers
        — fully-anchored RE2-style regexes (the reference converts them to
        Lucene wildcards, PromSourceBuilderVisitor.java:273-299; we keep
        real regex via rlike, anchored)."""
        key = (
            self.sf_dir,
            repr(sorted(match.items())),
            repr(sorted(inverse.items())),
            repr(sorted((match_re or {}).items())),
            repr(sorted((inverse_re or {}).items())),
            min_ts,
            max_ts,
            step,
        )
        return memo_by_file(
            _SRC_FETCH_MEMO, self.spark, key, events_path(self.sf_dir),
            lambda: self._fetch(match, inverse, min_ts, max_ts, step,
                                match_re, inverse_re),
        )

    def _fetch(self, match, inverse, min_ts, max_ts, step, match_re, inverse_re):
        where = None
        for k, values in match.items():
            p = tag_filter_predicate(F.col(k), values)
            where = p if where is None else (where & p)
        for k, values in inverse.items():
            p = tag_filter_predicate(F.col(k), values, inverted=True)
            where = p if where is None else (where & p)
        for k, values in (match_re or {}).items():
            p = regex_filter_predicate(F.col(k), values)
            where = p if where is None else (where & p)
        for k, values in (inverse_re or {}).items():
            p = regex_filter_predicate(F.col(k), values, inverted=True)
            where = p if where is None else (where & p)
        return fetch_events(
            self.spark,
            self.sf_dir,
            step=step,
            min_ts=max(min_ts, EVENTS_MIN_TS),
            max_ts=min(max_ts, EVENTS_MAX_TS),
            where=where,
        )

    def mock_fetch(
        self,
        values: list[float],
        tags: dict[str, str],
        min_ts: int,
        max_ts: int,
        step: int,
    ) -> SeriesFrame:
        return synth_mock_series(self.spark, values, tags, min_ts, max_ts, step)


def synth_mock_series(
    spark: SparkSession,
    values: list[float],
    tags: dict[str, str],
    min_ts: int,
    max_ts: int,
    step: int,
) -> SeriesFrame:
    """Synthesize one constant series: value[i] at grid point i —
    MockFetchStage.java:40 (coordinator-side synthesis). NaN values are
    skipped at synthesis (MockFetchStage.java:94): NaN means "missing"
    at the storage boundary, so the grid point stays a gap that e.g.
    transformNull can later fill. All values are emitted, even past the
    query end (the stage never clips; MockFetchStage.process), and an
    empty tag set defaults to ``name:mockFetch``
    (MockFetchStage.java:65-67)."""
    import math

    if not tags:
        tags = {"name": "mockFetch"}
    rows = [
        (min_ts + i * step, float(v))
        for i, v in enumerate(values)
        if not math.isnan(float(v))
    ]
    # the synthesized series spans all its values (series end =
    # start + (n-1)*step inclusive ⇒ exclusive frame bound one step past),
    # so densifying stages (transformNull) fill the full value range
    max_ts = max(max_ts, min_ts + len(values) * step)
    # literal plan, not createDataFrame: identical mock fetches share a
    # semanticHash, so probe memos and persists rehydrate across re-runs
    df = literal_frame(spark, rows, "ts bigint, value double")
    keys = sorted(tags)
    label_map = F.create_map(
        *[x for k in keys for x in (F.lit(k), F.lit(tags[k]))]
    )
    out = (
        df.withColumn("labels", label_map)
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select(*SAMPLE_COLS)
    )
    return SeriesFrame(df=out, step=step, min_ts=min_ts, max_ts=max_ts)


class MetricsSource:
    """M3Source over an INGESTED metrics table (streaming/ingest.py) —
    closes the write-read loop: bulk docs → Structured Streaming ingest →
    M3QL/PromQL query, the reference's own lifecycle (TSDBEngine.index →
    RestM3QLAction query). ``table`` is the parquet path of a metrics
    table that ``streaming.ingest`` writes (the stream, ``ingest_batch``,
    the wire ingests or a recording rule).

    A fetch is one pass, as the reference's shard-level
    ``time_series_unfold`` is (TimeSeriesUnfoldAggregator.java:270-320):
    one pruned scan (pinned schema, so building it runs no Spark job)
    and one aggregation, ``max_by(value, ts)`` per (series, grid
    bucket). That single aggregation is both the ANY_WINS (series, ts)
    merge of ``read_metrics`` and the last-write-wins grid alignment:
    either way a bucket takes a value at its newest timestamp, chosen
    arbitrarily among duplicates there (the stream's own duplicates are
    exact copies).

    Unlike EventsSource (fixed label columns), labels here are the open
    map decoded from ``series_key``, so tag predicates evaluate against
    ``labels[key]`` — they cannot reach parquet as pushed filters, but
    they sit below the aggregation, and block-partition pruning and ts
    row-group pruning still bound the scan (the reference's Lucene label
    index is the part Spark replaces with the bucket/partition layout,
    not with per-label statistics).

    ``rollups`` opts into M3-style aggregated-namespace selection: a
    list of ``{"path": str, "resolution_ms": int, "agg": str}`` dicts
    (``agg`` default ``"last"``, the gauge-downsampling default).  A
    fetch whose grid ``step`` is at least a rollup's resolution reads
    the COARSEST such rollup table instead of raw — the long-range
    query scans resolution/step fewer rows, which is the entire point
    of keeping downsampled namespaces at 100 TB.  Queries finer than
    every rollup read raw, so results are never less precise than the
    grid asked for."""

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        rollups: list[dict] | None = None,
    ):
        self.spark = spark
        self.table = table
        for r in rollups or []:
            if int(r["resolution_ms"]) <= 0:
                raise ValueError("rollup resolution_ms must be positive")
        self.rollups = sorted(
            rollups or [], key=lambda r: int(r["resolution_ms"])
        )

    def fetch(
        self,
        match: dict[str, list[str]],
        inverse: dict[str, list[str]],
        min_ts: int,
        max_ts: int,
        step: int,
        match_re: dict[str, list[str]] | None = None,
        inverse_re: dict[str, list[str]] | None = None,
    ) -> SeriesFrame:
        from time_series_db_spark.streaming.ingest import scan_metrics

        # namespace selection: coarsest rollup whose resolution fits the
        # query grid (rollups sorted ascending) — else the raw table
        chosen = None
        for r in self.rollups:
            if int(r["resolution_ms"]) <= step:
                chosen = r
        if chosen is not None:
            from time_series_db_spark.streaming.downsample import scan_rollup

            df = scan_rollup(
                self.spark, chosen["path"], chosen.get("agg", "last"),
                min_ts=min_ts, max_ts=max_ts,
            )
        else:
            df = scan_metrics(self.spark, self.table, min_ts, max_ts)
        # the read has listed the table's files: a listing that differs
        # from an earlier read's releases the warm frames built on it
        cache.note_inputs(
            chosen["path"] if chosen is not None else self.table,
            hash(frozenset(df.inputFiles())),
        )
        lbl = labels_from_key_expr(F.col("series_key"))
        where = None
        for key, values in match.items():
            p = tag_filter_predicate(lbl[key], values)
            where = p if where is None else (where & p)
        for key, values in inverse.items():
            # absent tag passes a negated filter (nothing to match)
            p = lbl[key].isNull() | tag_filter_predicate(
                lbl[key], values, inverted=True
            )
            where = p if where is None else (where & p)
        for key, values in (match_re or {}).items():
            p = regex_filter_predicate(lbl[key], values)
            where = p if where is None else (where & p)
        for key, values in (inverse_re or {}).items():
            p = lbl[key].isNull() | regex_filter_predicate(
                lbl[key], values, inverted=True
            )
            where = p if where is None else (where & p)
        if where is not None:
            df = df.filter(where)
        # one aggregation: ANY_WINS dedup and LWW grid alignment at once
        # (stored samples carry no ingest id, so the latest raw timestamp
        # in the bucket wins; the events adapter breaks ties by ingest
        # order instead)
        grid = (F.col("ts") - (F.col("ts") % F.lit(int(step)))).alias("__grid")
        aligned = (
            df.select("series_key", "ts", "value", grid)
            .groupBy("series_key", "__grid")
            .agg(F.expr("max_by(value, ts)").alias("value"))
        )
        out = aligned.select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.lit(None).cast("string").alias("alias"),
            F.col("__grid").alias("ts"),
            F.col("value"),
        ).select(*SAMPLE_COLS)
        return SeriesFrame(df=out, step=step, min_ts=min_ts, max_ts=max_ts)

    def mock_fetch(
        self,
        values: list[float],
        tags: dict[str, str],
        min_ts: int,
        max_ts: int,
        step: int,
    ) -> SeriesFrame:
        return synth_mock_series(self.spark, values, tags, min_ts, max_ts, step)
