"""Literal plans for small driver-side values (coordinator results,
mock series, Bloom bitmaps, PCA bases).

``createDataFrame`` makes an RDD-backed frame whose ``semanticHash``
changes on every call, defeating the ``cache`` memos and persists of
every plan downstream; per-element ``F.lit`` costs a py4j round trip
per element, and SQL-text ``array(...)`` literals take seconds to parse
at tens of thousands of elements.  Here the values travel as ONE JSON
string literal through ``from_json``: one round trip, hash-equal plans
for identical calls, and the optimizer constant-folds the parse.
Doubles round-trip exactly (``NaN``/``Infinity`` included); a value
that does not fit its type fails the action (``FAILFAST``).  The folded
literal ships inside every task, so :func:`literal_frame` falls back to
``createDataFrame`` above :data:`LITERAL_CAP` values.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

#: literal values (array elements count one each) above which
#: :func:`literal_frame` builds a ``createDataFrame`` frame instead.
LITERAL_CAP = 65_536

_STRICT = {"mode": "FAILFAST"}
_PY = {"double": float, "int": int, "bigint": int}


def lit_array(vals, elem_type: str = "double") -> Column:
    """``vals`` as one ``array<elem_type>`` literal column (``double``,
    ``int`` or ``bigint``)."""
    conv = _PY[elem_type]
    text = json.dumps([conv(v) for v in vals])
    return F.from_json(F.lit(text), f"array<{elem_type}>", _STRICT)


def literal_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a frame whose plan is one
    inlined literal: identical calls share a ``semanticHash``.  Above
    :data:`LITERAL_CAP` values, or when a value has no JSON form
    (dates, decimals, bytes), it is ``createDataFrame``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    arrays = (list, tuple)
    n = sum(len(v) if isinstance(v, arrays) else 1 for r in rows for v in r)
    if n <= LITERAL_CAP:
        try:
            text = json.dumps([dict(zip(schema.names, r)) for r in rows])
        except TypeError:
            pass
        else:
            parsed = F.from_json(F.lit(text), ArrayType(schema), _STRICT)
            return spark.range(1).select(F.inline(parsed))
    return spark.createDataFrame(rows, schema)
