"""Streaming recording rules: continuously evaluate a named aggregation
over the ingest stream and store the result as first-class series.

This is the M3 rollup-rule / Prometheus recording-rule capability — the
one write-path feature of the reference's ecosystem (M3 aggregator,
Prometheus rule evaluation) that the reference repo itself leaves to the
surrounding platform. A rule names a derived metric and defines it as a
tag-filtered, label-grouped aggregation at a fixed resolution:

    {"record": "region:error_rate:sum",      # new metric name
     "match": {"name": ["error"]},           # M3 fetch tag filters
     "group_by": ["region"],                 # surviving labels
     "agg": "sum",                           # sum|min|max|count|avg|last
     "resolution_ms": 300_000}

The rule subset is deliberately the *incrementally computable* one (the
same subset M3 rollup rules support): filter → group → windowed
aggregate. Arbitrary M3QL pipelines (sort, topk, binary joins) are not
incrementally evaluable over an append stream and belong on the query
path, which can already read a rule's OUTPUT — rows are written in the
metrics-store shape, so :class:`~time_series_db_spark.sources.m3source.
MetricsSource` (and therefore both query languages and the service
facade) queries recorded series like any ingested metric.

Three legs share one compiled core (:func:`compile_rule` + the
match/label front half):

- :func:`start_recording_rule` — Structured Streaming: watermarked
  tumbling-window aggregation, append-emitted when the watermark closes
  the window (same late-data rule as the raw/downsample legs, so all
  three stores agree on which samples count).
- :func:`backfill_recording_rule` — batch evaluation of the same rule
  over an existing metrics table's historical range (the promtool
  "rule backfill" operation); bit-identical to what the streaming leg
  would have produced for closed windows.
- :func:`apply_rule_frame` — the pure frame transform, for composition
  and tests.

Scale: one hash-partitioned windowed aggregation — partial aggregation
combines map-side, state is bounded by (matched series × in-watermark
windows), and the tag filter runs BEFORE the shuffle so an ingest stream
of 10M series pays shuffle only for the rule's matched subset. Output is
block-partitioned like the raw table; readers prune identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from time_series_db_spark.model import labels_from_key_expr, series_key_expr
from time_series_db_spark.sources.m3source import tag_filter_predicate
from time_series_db_spark.streaming.ingest import (
    DEFAULT_BLOCK_MS,
    DEFAULT_OOO_CUTOFF,
    METRICS_COLS,
    ingest_stream,
    start_block_sink,
    write_blocks,
)

#: aggregation -> column expression over the window's samples
RULE_AGGS = {
    "sum": lambda: F.sum("value"),
    "min": lambda: F.min("value"),
    "max": lambda: F.max("value"),
    "count": lambda: F.count(F.lit(1)).cast("double"),
    "avg": lambda: F.avg("value"),
    "last": lambda: F.expr("max_by(value, ts)"),
}


def compile_rule(rule: dict) -> dict:
    """Validate and normalize a rule dict; raises ValueError with the
    offending field (the RestM3QLAction-style fail-early contract)."""
    record = rule.get("record")
    if not record or not isinstance(record, str):
        raise ValueError("rule.record must be a non-empty metric name")
    agg = rule.get("agg", "last")
    if agg not in RULE_AGGS:
        raise ValueError(
            f"rule.agg {agg!r} not in {sorted(RULE_AGGS)}"
        )
    res = int(rule.get("resolution_ms", 0))
    if res <= 0:
        raise ValueError(f"rule.resolution_ms must be positive, got {res}")
    group_by = list(rule.get("group_by", []))
    if "name" in group_by:
        raise ValueError(
            "rule.group_by may not contain 'name' — the record name "
            "replaces it (Prometheus recording-rule naming contract)"
        )
    match = {k: list(v) for k, v in (rule.get("match") or {}).items()}
    return {
        "record": record,
        "match": match,
        "group_by": group_by,
        "agg": agg,
        "resolution_ms": res,
    }


def _match_and_label(samples: DataFrame, r: dict):
    """Shared rule front half: tag filter (BEFORE any shuffle), drop
    series missing a group_by label (AbstractGroupingStage.java:94-99),
    and build the output label map (record name + surviving labels)."""
    lbl = F.col("labels")
    where = None
    for key, values in r["match"].items():
        p = tag_filter_predicate(lbl[key], values)
        where = p if where is None else (where & p)
    if where is not None:
        samples = samples.filter(where)
    for k in r["group_by"]:
        samples = samples.filter(lbl[k].isNotNull())
    out_labels = F.map_from_arrays(
        F.array(F.lit("name"), *[F.lit(k) for k in r["group_by"]]),
        F.array(F.lit(r["record"]), *[lbl[k] for k in r["group_by"]]),
    )
    return samples, out_labels


def apply_rule_frame(
    samples: DataFrame, rule: dict, block_ms: int = DEFAULT_BLOCK_MS
) -> DataFrame:
    """Pure transform: canonical sample rows → the rule's output rows in
    metrics-store shape (METRICS_COLS). Batch semantics: tumbling window
    by ``ts − ts mod resolution`` — identical to the streaming leg's
    ``window(event_time, resolution)`` for closed windows."""
    r = compile_rule(rule)
    samples, out_labels = _match_and_label(samples, r)
    res = r["resolution_ms"]
    # group on the PACKED key string, not the map (maps are not
    # orderable grouping keys; the key is the canonical identity anyway)
    return (
        samples.withColumn("series_key", series_key_expr(out_labels))
        .withColumn("__wts", F.col("ts") - F.col("ts") % F.lit(res))
        .groupBy("series_key", "__wts")
        .agg(RULE_AGGS[r["agg"]]().alias("value"))
        .select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.col("__wts").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn(
            "block", F.col("ts") - F.col("ts") % F.lit(int(block_ms))
        )
        .select(*METRICS_COLS)
    )


def _rule_stream(
    spark: SparkSession, source_dir: str, r: dict, ooo_cutoff: str,
    block_ms: int,
) -> DataFrame:
    """The compiled rule ``r`` over the ingest JSON stream: matched
    samples aggregated per output series and ``window(event_time,
    resolution)``, in metrics-store shape (METRICS_COLS) — the shared
    front of the recording and alert rule streams."""
    samples, out_labels = _match_and_label(
        ingest_stream(spark, source_dir, ooo_cutoff, block_ms), r
    )
    res = r["resolution_ms"]
    return (
        samples.withColumn("series_key", series_key_expr(out_labels))
        .groupBy(
            "series_key",
            F.window("event_time", f"{res} milliseconds"),
        )
        .agg(RULE_AGGS[r["agg"]]().alias("value"))
        .select(
            "series_key",
            labels_from_key_expr(F.col("series_key")).alias("labels"),
            F.unix_millis(F.col("window.start")).alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn(
            "block", F.col("ts") - F.col("ts") % F.lit(int(block_ms))
        )
        .select(*METRICS_COLS)
    )


def start_recording_rule(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    rule: dict,
    *,
    ooo_cutoff: str = DEFAULT_OOO_CUTOFF,
    block_ms: int = DEFAULT_BLOCK_MS,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the rule's streaming leg over the ingest JSON stream.

    A window's row emits once the rule's watermark passes its end
    (append mode) — late samples beyond ``ooo_cutoff`` are excluded from
    the recorded series exactly as they are from the raw store, so rule
    output never disagrees with what a query-time aggregation over the
    raw table would have seen. Checkpoint-replay duplicates are absorbed
    by the read path's LWW grid merge (MetricsSource.fetch).

    Watermark scope: Catalyst pushes the (deterministic) tag filter
    below the EventTimeWatermark operator, so the rule's event clock
    advances with its MATCHED samples — each rule stream keeps its own
    clock, and a rule whose series go quiet holds its last window open
    until matched data resumes (it never emits a partial window early).
    """
    rolled = _rule_stream(
        spark, source_dir, compile_rule(rule), ooo_cutoff, block_ms
    )
    return start_block_sink(rolled, out_path, checkpoint_dir, available_now)


def backfill_recording_rule(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    rule: dict,
    *,
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> int:
    """Evaluate ``rule`` over an existing metrics table's history and
    write the recorded series (the promtool rule-backfill operation).
    Returns the number of rows THIS backfill appended (not the output
    table's total). Windows that the streaming leg already emitted merge
    by the read path's LWW — backfill + streaming over the same range is
    idempotent, not duplicating."""
    from time_series_db_spark.streaming.ingest import read_metrics

    samples = read_metrics(spark, store_path, min_ts=min_ts, max_ts=max_ts)
    out = apply_rule_frame(samples, rule, block_ms).persist()
    try:
        n = out.count()
        write_blocks(out, out_path)
    finally:
        out.unpersist()
    return n


#: comparison operators an alert rule may use (Prometheus expr compare)
ALERT_OPS = {
    ">": lambda c, t: c > t,
    ">=": lambda c, t: c >= t,
    "<": lambda c, t: c < t,
    "<=": lambda c, t: c <= t,
    "==": lambda c, t: c == t,
    "!=": lambda c, t: c != t,
}


def compile_alert(spec: dict) -> dict:
    """Validate an alert spec: a recording-rule body plus a threshold
    comparison and a ``for``-duration in windows.

        {"alert": "HighErrors",
         "rule": {...recording-rule dict...},   # what to evaluate
         "op": ">", "threshold": 10.0,
         "for_windows": 3,                      # consecutive breaches
         "labels": {"severity": "page"}}        # static extra labels
    """
    name = spec.get("alert")
    if not name or not isinstance(name, str):
        raise ValueError("alert.alert must be a non-empty alert name")
    op = spec.get("op", ">")
    if op not in ALERT_OPS:
        raise ValueError(f"alert.op {op!r} not in {sorted(ALERT_OPS)}")
    rule = compile_rule(spec["rule"])
    if "for_ms" in spec and "for_windows" in spec:
        raise ValueError("alert: give for_ms OR for_windows, not both")
    if "for_ms" in spec:
        # Prometheus-style `for:` duration — the alert fires once it has
        # breached continuously for at least this long: ceil to whole
        # evaluation windows of the rule's resolution
        for_ms = int(spec["for_ms"])
        if for_ms < 0:
            raise ValueError(f"alert.for_ms must be >= 0, got {for_ms}")
        res = rule["resolution_ms"]
        k = max(1, -(-for_ms // res))
    else:
        k = int(spec.get("for_windows", 1))
    if k < 1:
        raise ValueError(f"alert.for_windows must be >= 1, got {k}")
    extra = dict(spec.get("labels") or {})
    for res in ("alertname", "alertstate", "name"):
        if res in extra:
            raise ValueError(f"alert.labels may not set reserved {res!r}")
    return {
        "alert": name,
        "rule": rule,
        "op": op,
        "threshold": float(spec.get("threshold", 0.0)),
        "for_windows": k,
        "labels": extra,
    }


def dedup_rule_history(df: DataFrame) -> DataFrame:
    """Collapse a rule table to ONE row per (series_key, ts) —
    read_metrics' ANY_WINS merge (reference SampleMerger ANY policy,
    query/utils/SampleMerger.java via DedupIterator), applied before
    alert evaluation. foreachBatch delivery is at-least-once, so a
    replayed epoch (or a re-run backfill, mode=append) can double-append
    identical windows; duplicate ts rows would split the row_number
    islands in :func:`evaluate_alert_frame` and corrupt run lengths."""
    return (
        df.groupBy("series_key", "ts")
        .agg(
            F.first("value").alias("value"),
            F.first("block").alias("block"),
        )
        .withColumn("labels", labels_from_key_expr(F.col("series_key")))
        .select(*METRICS_COLS)
    )


def evaluate_alert_frame(
    recorded: DataFrame, spec: dict, keep_source_key: bool = False
) -> DataFrame:
    """Prometheus alert-state evaluation over a recorded series frame
    (metrics-store shape, one row per (series, window)): a series whose
    value breaches ``op threshold`` is *pending* until it has breached
    ``for_windows`` CONSECUTIVE windows, then *firing* — emitted as the
    Prometheus ``ALERTS{alertname=…, alertstate=pending|firing}`` series
    (value 1 while active, absent otherwise).

    Consecutive-run length is the gaps-and-islands form: among a
    series' breached windows ordered by ts, ``ts/resolution −
    row_number()`` is constant within a maximal run, so a count over
    (series, island) up to the current row is the run length — two
    window functions over ONE (series_key) partitioning, no self-join,
    no state blowup: at 100 TB this is a per-series sort exactly like
    every sequential operator in the query path.
    """
    from pyspark.sql import Window

    a = compile_alert(spec)
    res = a["rule"]["resolution_ms"]
    breached = recorded.filter(
        ALERT_OPS[a["op"]](F.col("value"), F.lit(a["threshold"]))
    )
    w = Window.partitionBy("series_key").orderBy("ts")
    isl = (F.col("ts") / F.lit(res)).cast("long") - F.row_number().over(w)
    wrun = (
        Window.partitionBy("series_key", "__island")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        breached.withColumn("__island", isl)
        .withColumn("__run", F.count(F.lit(1)).over(wrun))
        .withColumn(
            "__state",
            F.when(F.col("__run") >= a["for_windows"], F.lit("firing"))
            .otherwise(F.lit("pending")),
        )
    )
    alert_labels = F.map_from_arrays(
        F.array(
            F.lit("alertname"),
            F.lit("alertstate"),
            *[F.lit(k) for k in sorted(a["labels"])],
        ),
        F.array(
            F.lit(a["alert"]),
            F.col("__state"),
            *[F.lit(a["labels"][k]) for k in sorted(a["labels"])],
        ),
    )
    # drop every key the alert side will write (alert labels WIN, the
    # Prometheus override rule) — with spark.sql.mapKeyDedupPolicy's
    # default EXCEPTION, a surviving collision (e.g. a static label
    # matching a group_by label, or a source series that itself carries
    # alertname/alertstate) would throw at runtime instead of overriding
    reserved = F.array(
        F.lit("name"),
        F.lit("alertname"),
        F.lit("alertstate"),
        *[F.lit(k) for k in sorted(a["labels"])],
    )
    out_labels = F.map_concat(
        F.map_filter(
            F.col("labels"), lambda k, _v: ~F.array_contains(reserved, k)
        ),
        alert_labels,
    )
    extra = (
        [F.col("series_key").alias("__source_key")] if keep_source_key else []
    )
    return staged.withColumn("__alabels", out_labels).select(
        series_key_expr(F.col("__alabels")).alias("series_key"),
        F.col("__alabels").alias("labels"),
        F.col("ts"),
        F.lit(1.0).alias("value"),
        F.col("block"),
        *extra,
    )


def start_alert_rule(
    spark: SparkSession,
    source_dir: str,
    rule_path: str,
    alerts_path: str,
    spec: dict,
    *,
    ooo_cutoff: str = DEFAULT_OOO_CUTOFF,
    block_ms: int = DEFAULT_BLOCK_MS,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming alert evaluation, composed from the pieces that already
    stream correctly: the spec's recording rule runs as the watermarked
    windowed aggregation, and ``foreachBatch`` appends each emitted
    micro-batch to the rule table then evaluates alert state for the
    AFFECTED series only (a semi-join on the batch's series keys) over
    the rule table's history, appending alert rows ONLY for the batch's
    new windows — each (series, window) alert row is written effectively
    once (a per-epoch commit marker skips replayed micro-batches, and
    the history read runs the ANY_WINS (series_key, ts) dedup so even a
    crash between data-append and marker leaves run lengths correct),
    with the run-length state known as of that window. A past
    ``pending`` row stays pending when the alert later fires, which is
    the Prometheus ALERTS-series contract (state at time t, not
    retroactive).

    Recomputation is bounded: windows emit exactly once (append mode),
    so a batch touches |batch series| × their recorded history — the
    same per-series sequential unit every window operator partitions
    by. State is replayed deterministically from the store, surviving
    restarts without custom state-store code.
    """
    rolled = _rule_stream(
        spark, source_dir, compile_alert(spec)["rule"], ooo_cutoff, block_ms
    )

    epochs_path = os.path.join(rule_path, "_epoch_commits")

    def _epoch_committed(eid: int) -> bool:
        try:
            return (
                spark.read.parquet(epochs_path)
                .filter(F.col("epoch") == F.lit(int(eid)))
                .limit(1)
                .count()
                > 0
            )
        except Exception:  # no commits yet — first epoch
            return False

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: after a restart the last epoch
        # replays with the SAME epoch_id. Skip epochs whose marker row
        # landed (fully committed); a crash BETWEEN the data append and
        # the marker write still replays, which is why every read path
        # also runs the ANY_WINS (series_key, ts) dedup.
        if _epoch_committed(epoch_id):
            return
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            batch_df.write.mode("append").partitionBy("block").parquet(
                rule_path
            )
            touched = batch_df.select("series_key").distinct()
            history = dedup_rule_history(
                spark.read.parquet(rule_path).join(
                    F.broadcast(touched), "series_key", "left_semi"
                )
            )
            alerts = evaluate_alert_frame(history, spec, keep_source_key=True)
            new_windows = batch_df.select(
                F.col("series_key").alias("__bk"), F.col("ts").alias("__bt")
            ).distinct()
            fresh = alerts.join(
                F.broadcast(new_windows),
                (F.col("__source_key") == F.col("__bk"))
                & (F.col("ts") == F.col("__bt")),
                "left_semi",
            ).drop("__source_key")
            fresh.write.mode("append").partitionBy("block").parquet(
                alerts_path
            )
            spark.createDataFrame(
                [(int(epoch_id),)], "epoch long"
            ).write.mode("append").parquet(epochs_path)
        finally:
            batch_df.unpersist()

    writer = (
        rolled.writeStream.foreachBatch(_commit)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(rule_path, "_checkpoint"),
        )
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def backfill_rules(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    rules: list[dict],
    *,
    min_ts: int | None = None,
    max_ts: int | None = None,
    block_ms: int = DEFAULT_BLOCK_MS,
) -> dict[str, int]:
    """Backfill MANY recording rules over ONE scan of the metrics store —
    the M3-aggregator shape (a rule group shares the ingest stream, not
    one pass per rule). The samples frame is persisted once and read
    ONCE: each row explodes into a struct per rule it matches and a
    single hash aggregation computes the whole group (r13 — previously
    each rule ran its own filter+aggregate over the materialization).
    At 100 TB the store scan dominates a backfill, so a 20-rule group
    costs 1 scan + 1 shuffle instead of 20 of each.

    Rules must have distinct ``record`` names (the per-rule row counts
    are keyed by them). Returns {record: rows appended}.
    """
    from time_series_db_spark.cache import persist_tracked
    from time_series_db_spark.streaming.ingest import read_metrics

    compiled = [compile_rule(r) for r in rules]
    names = [r["record"] for r in compiled]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate record names in rule group: {names}")
    samples = read_metrics(spark, store_path, min_ts=min_ts, max_ts=max_ts)
    # Persisting materializes the scan, and a cache boundary blocks all
    # later pushdown — so prune to the UNION of the rules' tag filters
    # FIRST. A group matching 1% of a 100 TB store then caches 1%, not
    # everything; each rule's own (subset) filter still runs on top.
    # Any rule with an empty match selects the whole store: skip.
    if all(r["match"] for r in compiled):
        union_pred = None
        for r in compiled:
            pred = None
            for key, values in r["match"].items():
                p = tag_filter_predicate(F.col("labels")[key], values)
                pred = p if pred is None else (pred & p)
            union_pred = pred if union_pred is None else (union_pred | pred)
        if union_pred is not None:
            samples = samples.filter(union_pred)
    samples = persist_tracked(samples)
    # ONE pass over the (pruned, persisted) samples for the WHOLE group
    # (r13 optimization, guide §2.3 "aggregate before you shuffle" /
    # §1.2 fewer passes): each sample row emits a struct per rule it
    # matches — (record, output series key, window ts) — via one
    # array_compact explode, and a single hash aggregation computes
    # every RULE_AGGS statistic per (record, key, window); the rule's
    # own aggregation is selected per record afterwards.  Replaces one
    # filtered scan + shuffle + aggregate PER RULE (a 20-rule group paid
    # 20 passes over the cached store) with exactly one of each;
    # per-rule results are bit-identical — the group under (record,
    # key, window) contains precisely the rows apply_rule_frame's
    # per-rule filter selected, and the selected aggregate is the same
    # function (pinned by test_backfill_rules_prefilter_matches_
    # unfiltered, which compares against per-rule backfills).
    lbl = F.col("labels")
    branches = []
    for r in compiled:
        pred = F.lit(True)
        for key, values in r["match"].items():
            pred = pred & tag_filter_predicate(lbl[key], values)
        for k in r["group_by"]:
            pred = pred & lbl[k].isNotNull()
        out_labels = F.map_from_arrays(
            F.array(F.lit("name"), *[F.lit(k) for k in r["group_by"]]),
            F.array(F.lit(r["record"]), *[lbl[k] for k in r["group_by"]]),
        )
        wts = F.col("ts") - F.col("ts") % F.lit(r["resolution_ms"])
        branches.append(
            F.when(
                pred,
                F.struct(
                    F.lit(r["record"]).alias("record"),
                    series_key_expr(out_labels).alias("skey"),
                    wts.alias("wts"),
                ),
            )
        )
    rows = samples.select(
        F.explode(F.array_compact(F.array(*branches))).alias("__r"),
        "ts",
        "value",
    )
    aggd = rows.groupBy("__r.record", "__r.skey", "__r.wts").agg(
        *[RULE_AGGS[a]().alias(f"__{a}") for a in RULE_AGGS]
    )
    value = None
    for r in compiled:
        picked = F.col(f"__{r['agg']}")
        value = (
            picked
            if value is None
            else F.when(F.col("record") == r["record"], picked).otherwise(value)
        )
    out = aggd.select(
        F.col("skey").alias("series_key"),
        labels_from_key_expr(F.col("skey")).alias("labels"),
        F.col("wts").alias("ts"),
        value.cast("double").alias("value"),
        (
            F.col("wts") - F.col("wts") % F.lit(int(block_ms))
        ).alias("block"),
        F.col("record").alias("__record"),
    )
    # per-record row counts ride the WRITE pass as observed metrics —
    # one action over the union instead of a count job plus a write
    # job over a persisted intermediate
    from pyspark.sql import Observation

    obs = Observation()
    out = out.observe(
        obs,
        *[
            F.sum(F.when(F.col("__record") == n, 1).otherwise(0))
            .cast("long")
            .alias(n)
            for n in names
        ],
    )
    try:
        write_blocks(out.drop("__record"), out_path)
        counts = obs.get
    finally:
        samples.unpersist()
    return {n: int(counts.get(n, 0) or 0) for n in names}
