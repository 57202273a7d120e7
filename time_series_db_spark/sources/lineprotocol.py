"""InfluxDB line protocol as a source and sink.

The second universally-spoken metrics wire format (after the Prometheus
text exposition, sources/exposition.py): telegraf and the whole Influx
ecosystem emit ``measurement,tag1=v1,tag2=v2 field1=1.5,field2=2 <ns>``
lines. Parsing a dump of these into the engine's sample shape is, like
the exposition parser, PURE Catalyst column work — regexp splits, map
assembly, escape resolution — so a 100 TB load runs at text-scan speed
with zero Python.

Mapping to the engine's model: each FIELD becomes its own series — the
``name`` label is ``<measurement>_<field>`` (the convention Prometheus's
own influxdb_exporter uses), tags become labels, the nanosecond
timestamp becomes epoch milliseconds (floor division — the engine's
native unit). Only float/integer fields are kept (string and boolean
fields have no place in a float64 sample store; they are skipped, not
errors).

Escaping (Influx line-protocol spec): in measurements — ``\\,`` and
``\\ ``; in tag keys/values and field keys — ``\\,``, ``\\=``, ``\\ ``;
backslash itself is ``\\\\``. ``format → parse`` round-trips exactly
(property-tested with adversarial tag values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_db_spark.model import series_key_expr

#: split points NOT preceded by a backslash. These are exact ONLY after
#: escaped backslashes have been parked on the NUL placeholder (see
#: parse_line_protocol): without the parking, a tag value ENDING in a
#: backslash escapes to ``\\`` and the real delimiter after it would be
#: wrongly treated as escaped by a one-char lookbehind.
_UNESC_COMMA = r"(?<!\\),"
_UNESC_SPACE = r"(?<!\\) "
_UNESC_EQ = r"(?<!\\)="


def _escape(v: Column) -> Column:
    """Escape a tag key/value or field key: ``\\`` , ``,`` , ``=`` , space."""
    v = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    v = F.replace(v, F.lit(","), F.lit("\\,"))
    v = F.replace(v, F.lit("="), F.lit("\\="))
    return F.replace(v, F.lit(" "), F.lit("\\ "))


def _park(v: Column) -> Column:
    """Park escaped backslashes on a NUL placeholder (applied to the
    WHOLE line before any delimiter split, so the lookbehind splits see
    no backslash pairs). NUL cannot appear in line-protocol text."""
    return F.replace(v, F.lit("\\\\"), F.lit("\x00"))


def _unescape(v: Column) -> Column:
    """Resolve remaining delimiter escapes and restore parked
    backslashes — with :func:`_park` applied first, the exact inverse
    of :func:`_escape`."""
    v = F.replace(v, F.lit("\\,"), F.lit(","))
    v = F.replace(v, F.lit("\\="), F.lit("="))
    v = F.replace(v, F.lit("\\ "), F.lit(" "))
    return F.replace(v, F.lit("\x00"), F.lit("\\"))


def format_line_protocol(
    df: DataFrame, measurement_label: str = "name"
) -> DataFrame:
    """Render a sample frame (labels/ts/value) as line-protocol lines
    ``(line: string)`` with a single ``value`` field per line: the
    ``measurement_label`` label is the measurement, every other label a
    tag (sorted — Influx's own canonical tag order), ``ts`` ms →
    nanoseconds. One projection, no shuffle."""
    tags = F.array_sort(
        F.map_entries(
            F.map_filter(
                F.col("labels"), lambda k, _v: k != measurement_label
            )
        )
    )
    tag_blob = F.array_join(
        F.transform(
            tags,
            lambda e: F.concat(
                _escape(e["key"]), F.lit("="), _escape(e["value"])
            ),
        ),
        ",",
    )
    line = F.concat(
        _escape(F.col("labels")[measurement_label]),
        F.when(F.size(tags) > 0, F.concat(F.lit(","), tag_blob)).otherwise(
            F.lit("")
        ),
        F.lit(" value="),
        F.col("value").cast("string"),
        F.lit(" "),
        (F.col("ts") * F.lit(1_000_000)).cast("string"),
    )
    return df.select(line.alias("line"))


def parse_line_protocol(lines: DataFrame, column: str = "line") -> DataFrame:
    """Parse line-protocol lines into the engine's sample shape
    ``(series_key, labels, ts, value)`` — one output row per NUMERIC
    field (``name`` label = ``measurement_field``, except a field named
    literally ``value`` which maps to the bare measurement, matching
    :func:`format_line_protocol`'s sink and influxdb_exporter). String
    and boolean fields are skipped; comment (``#``) and blank lines and
    lines without the three space-separated sections are dropped.

    Pure column expressions end-to-end; the spec's escaped delimiters
    are honored by splitting only on unescaped commas/spaces/equals.
    The input column is isolated behind a Generate barrier first —
    sources/wire.py:isolate_input (r12 A/B: 4.83 → 3.07 s on the
    roundtrip, where predicate pushdown re-inlined the format
    expression 9×; cost-neutral on a raw text scan).
    """
    from time_series_db_spark.sources.wire import isolate_input

    lines = isolate_input(lines, column)
    c = _park(F.trim(F.col(column)))
    base = (
        lines.where(~F.startswith(F.trim(F.col(column)), F.lit("#")))
        .where(F.trim(F.col(column)) != "")
        .select(c.alias("__l"))
        # three sections: series-part, field-part, timestamp — split on
        # unescaped spaces only
        .withColumn("__parts", F.split("__l", _UNESC_SPACE))
        .where(F.size("__parts") == 3)
        # try_element_at, not element_at: predicate fusion can collapse
        # the downstream __ts filter into one conjunction whose codegen
        # subexpression elimination evaluates the index-3 access BEFORE
        # the size guard — ANSI element_at then kills the whole query on
        # the first malformed line (observed in a micro-batch plan;
        # batch plans kept the filters separate)
        .select(
            F.try_element_at("__parts", F.lit(1)).alias("__series"),
            F.try_element_at("__parts", F.lit(2)).alias("__fields"),
            F.try_element_at("__parts", F.lit(3)).alias("__ts"),
        )
        .where(F.col("__ts").rlike("^-?[0-9]+$"))
    )
    series_parts = F.split("__series", _UNESC_COMMA)
    measurement = _unescape(F.element_at(series_parts, 1))
    tag_entries = F.slice(series_parts, 2, F.size(series_parts) - 1)
    tag_kv = F.filter(
        F.transform(tag_entries, lambda t: F.split(t, _UNESC_EQ)),
        lambda kv: F.size(kv) == 2,
    )
    # one row per field; numeric-only (value regex: float or integer
    # with optional trailing i)
    fields = F.filter(
        F.transform(
            F.split("__fields", _UNESC_COMMA),
            lambda t: F.split(t, _UNESC_EQ),
        ),
        lambda kv: (F.size(kv) == 2)
        & F.element_at(kv, 2).rlike(
            r"^-?[0-9]+i?$|^-?[0-9]*\.[0-9]+(?:[eE][-+]?[0-9]+)?$"
            r"|^-?[0-9]+[eE][-+]?[0-9]+$"
        ),
    )
    exploded = base.select(
        measurement.alias("__m"),
        tag_kv.alias("__tags"),
        F.col("__ts"),
        F.explode(fields).alias("__f"),
    )
    fname = _unescape(F.element_at("__f", 1))
    fval = F.regexp_replace(F.element_at("__f", 2), "i$", "").cast("double")
    name = F.when(fname == "value", F.col("__m")).otherwise(
        F.concat(F.col("__m"), F.lit("_"), fname)
    )
    tag_keys = F.concat(
        F.array(F.lit("name")),
        F.transform(
            F.col("__tags"), lambda kv: _unescape(F.element_at(kv, 1))
        ),
    )
    # duplicated tag keys (or a tag literally named "name", which would
    # collide with the measurement entry) would make map_from_arrays
    # THROW under the default mapKeyDedupPolicy=EXCEPTION — drop such
    # malformed lines instead of crashing the scan
    exploded = exploded.where(
        F.size(F.array_distinct(tag_keys)) == F.size(tag_keys)
    )
    labels = F.map_from_arrays(
        tag_keys,
        F.concat(
            F.array(name),
            F.transform(
                F.col("__tags"), lambda kv: _unescape(F.element_at(kv, 2))
            ),
        ),
    )
    out = exploded.select(
        labels.alias("labels"),
        F.floor(F.col("__ts").cast("decimal(30,0)") / F.lit(1_000_000))
        .cast("long")
        .alias("ts"),
        fval.alias("value"),
    )
    return out.select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels",
        "ts",
        "value",
    )
