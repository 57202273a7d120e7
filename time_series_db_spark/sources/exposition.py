"""Prometheus / OpenMetrics text-exposition format as a source and sink.

The reference ingests through the surrounding platform's bulk API; the
universally-spoken wire format for metrics is the Prometheus text
exposition (``name{label="value",...} value timestamp_ms`` — the format
every exporter emits and every scraper parses, OpenMetrics spec §3).
This module renders a series frame to exposition lines (sink) and parses
exposition text back into the engine's sample shape (source) — both as
PURE Catalyst column expressions (concat/regexp/map functions), so at
100 TB a scrape-dump parse runs at text-scan speed with zero Python and
the only shuffle is whatever the downstream query adds.

Escaping follows the spec's label-value rules (``\\`` → ``\\\\``,
``"`` → ``\\"``, newline → ``\\n``), and the non-finite value spellings
are Prometheus's (``+Inf`` / ``-Inf`` / ``NaN``). ``format → parse`` is
an exact round trip (property-tested with adversarial label values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_db_spark.model import SeriesFrame, series_key_expr

#: metric-name and label grammar (Prometheus data model)
_NAME_RE = "[a-zA-Z_:][a-zA-Z0-9_:]*"
_LABEL_RE = '([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\\\]|\\\\.)*)"'
#: the label section is OPTIONAL (``metric_name 42 1000`` is the most
#: common exporter output form — bare counters/gauges carry no labels);
#: an absent blob parses as the empty label set.  Separators accept runs
#: of spaces/tabs, as real exporters emit both.
_LINE_RE = (
    f"^({_NAME_RE})[ \\t]*(?:\\{{(.*)\\}})?[ \\t]+(\\S+)"
    f"(?:[ \\t]+(-?[0-9]+))?[ \\t]*$"
)
#: a WHOLE label blob: empty, or comma-joined label pairs — guards
#: against a blob that merely CONTAINS something pair-like (or nothing)
#: silently parsing as fewer labels than the exporter wrote
_BLOB_RE = f"^(?:{_LABEL_RE}(?:,{_LABEL_RE})*)?$"


def _escape(v: Column) -> Column:
    v = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    v = F.replace(v, F.lit('"'), F.lit('\\"'))
    return F.replace(v, F.lit("\n"), F.lit("\\n"))


def _unescape(v: Column) -> Column:
    """Spec unescape, exact inverse of :func:`_escape`: ``\\\\`` →
    backslash, ``\\"`` → quote, ``\\n`` → newline, consumed atomically
    left-to-right. Escaped-backslash pairs park on a NUL placeholder
    FIRST (literal replace is left-to-right non-overlapping, so the
    3-char sequence backslash-backslash-n resolves to backslash+n, never
    a newline), then the remaining single-backslash escapes resolve,
    then the placeholder restores the backslashes. NUL cannot appear in
    exposition text."""
    nul = F.lit("\x00")
    v = F.replace(v, F.lit("\\\\"), nul)
    v = F.replace(v, F.lit('\\"'), F.lit('"'))
    v = F.replace(v, F.lit("\\n"), F.lit("\n"))
    return F.replace(v, nul, F.lit("\\"))


def format_exposition(sf: SeriesFrame) -> DataFrame:
    """Render a series frame as exposition lines ``(line: string)``.

    The metric name is the ``name`` label (the engine's convention for
    the metric identity); remaining labels are emitted sorted by key,
    values escaped per spec; the timestamp is epoch milliseconds (the
    Prometheus text-format unit). One projection — no shuffle.
    """
    entries = F.array_sort(
        F.map_entries(F.map_filter(F.col("labels"), lambda k, _v: k != "name"))
    )
    blob = F.array_join(
        F.transform(
            entries,
            lambda e: F.concat(
                e["key"], F.lit('="'), _escape(e["value"]), F.lit('"')
            ),
        ),
        ",",
    )
    val = (
        F.when(F.isnan("value"), F.lit("NaN"))
        .when(F.col("value") == F.lit(float("inf")), F.lit("+Inf"))
        .when(F.col("value") == F.lit(float("-inf")), F.lit("-Inf"))
        .otherwise(F.col("value").cast("string"))
    )
    line = F.concat(
        F.col("labels")["name"],
        F.lit("{"),
        blob,
        F.lit("} "),
        val,
        F.lit(" "),
        F.col("ts").cast("string"),
    )
    return sf.df.select(line.alias("line"))


def parse_exposition(lines: DataFrame, column: str = "line") -> DataFrame:
    """Parse exposition lines into the engine's sample shape
    ``(series_key, labels, ts, value)``. Comment (``# HELP/TYPE``) and
    blank lines are skipped; the metric name becomes the ``name`` label.
    Lines without a timestamp yield ``ts`` NULL (scrape-time semantics
    are the caller's to fill). Malformed lines are dropped (a strict
    mode is one filter flip away — the parse marker is ``__ok``).

    Pure column expressions: regexp splits, ``map_from_arrays`` label
    assembly, spec unescaping — the 100 TB path is one text scan.
    Input isolated behind a Generate barrier (sources/wire.py:
    isolate_input) so an expensive upstream line expression is
    evaluated once, not once per pushed-down guard (r12 A/B).
    """
    from time_series_db_spark.sources.wire import isolate_input

    lines = isolate_input(lines, column)
    c = F.col(column)
    base = (
        lines.where(~F.startswith(F.trim(c), F.lit("#")))
        .where(F.trim(c) != "")
        .select(F.trim(c).alias("__l"))
        .withColumn("__ok", F.col("__l").rlike(_LINE_RE))
        .where(F.col("__ok"))
        .select(
            F.regexp_extract("__l", _LINE_RE, 1).alias("__name"),
            F.regexp_extract("__l", _LINE_RE, 2).alias("__blob"),
            F.regexp_extract("__l", _LINE_RE, 3).alias("__val"),
            F.regexp_extract("__l", _LINE_RE, 4).alias("__ts"),
        )
        .where(F.col("__blob").rlike(_BLOB_RE))
    )
    keys = F.regexp_extract_all("__blob", F.lit(_LABEL_RE), F.lit(1))
    vals = F.transform(
        F.regexp_extract_all("__blob", F.lit(_LABEL_RE), F.lit(2)),
        _unescape,
    )
    all_keys = F.concat(F.array(F.lit("name")), keys)
    labels = F.map_from_arrays(
        all_keys,
        F.concat(F.array(F.col("__name")), vals),
    )
    # a duplicated label key (or a label literally named "name") would
    # make map_from_arrays THROW under spark.sql.mapKeyDedupPolicy's
    # default EXCEPTION — such lines are malformed per the Prometheus
    # data model and must drop like any other malformed line, not crash
    # the whole scan
    base = base.where(F.size(F.array_distinct(all_keys)) == F.size(all_keys))
    # the value token is deliberately loose (\S+, to admit the NaN/±Inf
    # spellings), so the numeric cast must be try_cast: under ANSI a
    # hard cast on a malformed value ('_ ;') kills the whole scan
    # instead of dropping the line (caught by the wire-parser fuzz)
    value = (
        F.when(F.col("__val") == "NaN", F.lit(float("nan")))
        .when(F.col("__val") == "+Inf", F.lit(float("inf")))
        .when(F.col("__val") == "-Inf", F.lit(float("-inf")))
        .otherwise(F.col("__val").try_cast("double"))
    )
    out = base.select(
        labels.alias("labels"),
        F.when(F.col("__ts") != "", F.col("__ts").cast("long")).alias("ts"),
        value.alias("value"),
    ).where(F.col("value").isNotNull())
    return out.select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels",
        "ts",
        "value",
    )
