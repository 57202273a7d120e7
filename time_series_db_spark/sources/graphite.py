"""Graphite plaintext (carbon) protocol as a source and sink.

The third of the universally-spoken metrics wire formats (after the
Prometheus text exposition and the Influx line protocol):

    metric.path[;tag1=v1;tag2=v2] value timestamp_seconds

Tagged series per the Graphite 1.1+ carbon tag spec. Unlike the other
two formats the protocol defines NO escape mechanism — a tag value
simply may not contain ``;`` (the spec's own restriction), tag names
additionally may not contain ``!``/``^``/``=``, and the metric path may
not contain ``;`` or whitespace. The formatter therefore VALIDATES
rather than escapes: rows whose labels violate the protocol are dropped
with an optional strict mode that raises instead (losing samples
silently is the worse default for a sink, so strict is on by default).

Mapping: the ``name`` label is the metric path; remaining labels are
tags (sorted, Graphite's canonical order); timestamps are epoch seconds
on the wire (the carbon unit) and epoch milliseconds in the engine —
``ms → s`` floors, so a round trip is exact only for second-aligned
samples (every store this engine writes is; the parser widens back by
``× 1000``).

Both directions are pure Catalyst column expressions — a carbon dump
parses at text-scan speed, zero Python, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_db_spark.model import series_key_expr

#: carbon line: path[;tags] value ts_seconds
_LINE_RE = r"^([^; ]+)((?:;[^; =]+=[^; ]*)*) (\S+) (-?[0-9]+)$"

#: a value the protocol can carry in a tag value / metric path
_OK_VALUE = "^[^;\\s]*$"
_OK_TAG_KEY = "^[^;!^=\\s]+$"


def format_graphite(df: DataFrame, strict: bool = True) -> DataFrame:
    """Render a sample frame as carbon lines ``(line: string)``.

    Labels that cannot be carried (``;``/whitespace in a value, the
    spec's forbidden characters in a tag key, empty ``name``) and
    non-finite sample values (the protocol has no NaN/Inf spelling)
    make the row unrepresentable: ``strict=True`` (default) RAISES on the first
    such row, ``strict=False`` drops them. One projection — no shuffle
    (strict mode adds a lazy assertion column, still scan-parallel).
    """
    tags = F.array_sort(
        F.map_entries(F.map_filter(F.col("labels"), lambda k, _v: k != "name"))
    )
    representable = (
        F.col("labels")["name"].rlike(_OK_VALUE)
        & (F.col("labels")["name"] != "")
        & F.forall(
            tags,
            lambda e: e["key"].rlike(_OK_TAG_KEY) & e["value"].rlike(_OK_VALUE),
        )
        # the protocol has no NaN/Inf spelling — a cast-to-string
        # 'NaN'/'Infinity' line would be silently dropped by the
        # parser's numeric filter, so a non-finite VALUE makes the row
        # unrepresentable exactly like a bad label (strict raises,
        # non-strict drops — never a silent sink-side loss)
        & ~F.isnan("value")
        & (F.abs("value") != F.lit(float("inf")))
    )
    blob = F.array_join(
        F.transform(
            tags, lambda e: F.concat(F.lit(";"), e["key"], F.lit("="), e["value"])
        ),
        "",
    )
    line = F.concat(
        F.col("labels")["name"],
        blob,
        F.lit(" "),
        F.col("value").cast("string"),
        F.lit(" "),
        F.floor(F.col("ts") / F.lit(1000)).cast("long").cast("string"),
    )
    if strict:
        checked = F.when(representable, line).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "graphite protocol cannot represent row "
                        "(';'/whitespace or forbidden tag-key chars in "
                        "labels, or non-finite value): "
                    ),
                    F.to_json(F.col("labels")),
                )
            )
        )
        return df.select(checked.alias("line"))
    return df.where(representable).select(line.alias("line"))


def parse_graphite(lines: DataFrame, column: str = "line") -> DataFrame:
    """Parse carbon lines into the engine's sample shape
    ``(series_key, labels, ts, value)`` — path → ``name`` label, tags →
    labels, seconds → milliseconds. Comment (``#``) / blank / malformed
    lines drop; duplicated tag keys (or a tag named ``name``) are
    malformed and drop rather than crashing ``map_from_arrays`` under
    the default ``mapKeyDedupPolicy=EXCEPTION``.

    Input isolated behind a Generate barrier (sources/wire.py:
    isolate_input) so an expensive upstream line expression is
    evaluated once, not once per pushed-down guard (r12 A/B)."""
    from time_series_db_spark.sources.wire import isolate_input

    lines = isolate_input(lines, column)
    c = F.trim(F.col(column))
    base = (
        lines.where(~F.startswith(F.trim(F.col(column)), F.lit("#")))
        .where(F.trim(F.col(column)) != "")
        .select(c.alias("__l"))
        .where(F.col("__l").rlike(_LINE_RE))
        .select(
            F.regexp_extract("__l", _LINE_RE, 1).alias("__path"),
            F.regexp_extract("__l", _LINE_RE, 2).alias("__tags"),
            F.regexp_extract("__l", _LINE_RE, 3).alias("__val"),
            F.regexp_extract("__l", _LINE_RE, 4).alias("__ts"),
        )
        .where(F.col("__val").rlike(r"^-?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?$"))
    )
    kvs = F.filter(
        F.transform(
            F.split("__tags", ";"), lambda t: F.split(t, "=", 2)
        ),
        lambda kv: F.size(kv) == 2,
    )
    keys = F.concat(
        F.array(F.lit("name")),
        F.transform(kvs, lambda kv: F.element_at(kv, 1)),
    )
    base = base.where(F.size(F.array_distinct(keys)) == F.size(keys))
    labels = F.map_from_arrays(
        keys,
        F.concat(
            F.array(F.col("__path")),
            F.transform(kvs, lambda kv: F.element_at(kv, 2)),
        ),
    )
    out = base.select(
        labels.alias("labels"),
        (F.col("__ts").cast("long") * F.lit(1000)).alias("ts"),
        F.col("__val").cast("double").alias("value"),
    )
    return out.select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels",
        "ts",
        "value",
    )
