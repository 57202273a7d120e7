"""Query output: the Prometheus ``query_range`` matrix response.

The reference has exactly one sink — ``PromMatrixResponseListener``
(query/rest/PromMatrixResponseListener.java:86; format javadoc :1-45):

    {"status": "success",
     "data": {"resultType": "matrix",
              "result": [{"metric": {k: v, ...}, "alias": ...,
                          "values": [[ts, "v"], ...],
                          "step": step, "start": start, "end": end}]}}

Values are stringified doubles (Prometheus wire convention; NaN/±Inf
serialize as "NaN"/"+Inf"/"-Inf"). Samples are ordered by timestamp
within each series.

The response leaves the engine as ONE flat Arrow collect of
``(series_key, alias, ts, value)`` rows (plus the sort/topK rank
columns) and is shaped on the driver: a columnar sort by
``(series_key, alias, ts)``, contiguous runs grouped into series, and
labels decoded from the key with ``str_to_map``'s rules.  Every sample
crosses to the driver either way — the response holds them all — so a
distributed ``groupBy(series_key)`` into sorted sample arrays only added
a shuffle job and array rows that the driver then unpacked.  This is
the boundary where results leave the engine, the same place the
reference streams its JSON response from the coordinator's
``List<TimeSeries>``.

Inside a named query scope the sorted table is memoised with the
scope's probe memos (the cache module's "Response memo"): a re-issued
panel inside the warm window is shaped from the table the driver
already holds and runs no Spark job.  The reference sends every search
with ``requestCache=false`` (RestM3QLAction.java:603-621) because its
index refreshes constantly; here every source notes its file listing
with the cache, and a changed listing releases the scope and its memo;
a build that noted no listing gets no memoised answer.

The collect is also the circuit breaker (ReduceCircuitBreakerConsumer):
with ``max_points`` set it reads at most ``max_points + 1`` rows and
both caps are checked on the driver, on every call, memo hits included,
raising :class:`QueryLimitError`.  With ``max_series`` alone there is
no row bound, so a memoised series count runs before the collect.
"""

from __future__ import annotations

import bisect
import math
from typing import Any

from pyspark.sql import DataFrame

from time_series_db_spark import cache
from time_series_db_spark.model import _KV_SEP, _PAIR_SEP, SeriesFrame

#: the largest response table (Arrow bytes) a query scope memoises; the
#: dashboard's widest panel is about 1 MB
RESPONSE_MEMO_BYTES = 4 << 20


class QueryLimitError(Exception):
    """A query matched more series / sample points than its configured
    cap — the Spark analog of the reference's reduce-phase circuit
    breaker (query/breaker/ReduceCircuitBreakerConsumer.java, settings
    TSDBPlugin.java:136-293): fail fast with a bounded error instead of
    letting a runaway ``fetch name:*`` OOM the driver-side matrix
    collect."""


def _fmt(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def matrix_frame(sf: SeriesFrame) -> DataFrame:
    """The response projection: one row per sample — series key, alias,
    timestamp, value, and the frame's ``ordered_by`` rank columns."""
    return sf.df.select("series_key", "alias", "ts", "value", *(sf.ordered_by or []))


def _labels(key: str | None) -> dict[str, str | None]:
    """:func:`~time_series_db_spark.model.labels_from_key_expr` on the
    driver: ``""`` is the empty map, each pair splits at its FIRST
    ``:``, and a pair without one maps its key to ``None``."""
    if not key:
        return {}
    out = {}
    for pair in key.split(_PAIR_SEP):
        k, sep, v = pair.partition(_KV_SEP)
        out[k] = v if sep else None
    return out


def _check_series(n: int, max_series: int | None) -> None:
    if max_series is not None and n > max_series:
        raise QueryLimitError(
            f"query matched {n} series, exceeding max_series={max_series}"
        )


def _table(sf: SeriesFrame, max_series: int | None, max_points: int | None):
    """:func:`matrix_frame`'s rows as one Arrow table sorted by
    ``(series_key, alias, ts, value)``, memoised under a named query
    scope when the build noted its inputs, the plan is deterministic and
    the table is under :data:`RESPONSE_MEMO_BYTES`.  With ``max_points``
    set the collect reads at most ``max_points + 1`` rows, and a table
    cut there is never memoised; both caps are checked on every call.
    With ``max_series`` alone the series are counted (a memoised probe)
    before any row is collected."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    frame = matrix_frame(sf)
    if max_series is not None and max_points is None:
        _check_series(cache.probe_memo(
            frame, "series_count",
            lambda: frame.agg(F.countDistinct("series_key")).collect()[0][0],
        ), max_series)

    def collect():
        tbl = (frame if max_points is None else frame.limit(max_points + 1)).toArrow()
        order = pc.sort_indices(
            tbl,
            sort_keys=[(c, "ascending") for c in ("series_key", "alias", "ts", "value")],
            null_placement="at_end",
        )
        return tbl.take(order)

    def held():
        tbl = collect()
        # a table cut at the row bound is not the whole answer
        cut = max_points is not None and tbl.num_rows > max_points
        return cache.Transient(tbl) if cut or tbl.nbytes >= RESPONSE_MEMO_BYTES else tbl

    if (
        cache.current_scope()
        and cache.inputs_noted()
        and frame._jdf.queryExecution().analyzed().deterministic()
    ):
        tbl = cache.probe_memo(frame, "response", held)
    else:
        tbl = collect()
    if max_points is not None:
        if tbl.num_rows > max_points:
            raise QueryLimitError(
                f"query produced more than {max_points} sample points, "
                f"exceeding max_points={max_points}"
            )
        _check_series(
            pc.count_distinct(tbl.column("series_key"), mode="all").as_py(), max_series
        )
    return tbl


def _series(sf: SeriesFrame, max_series: int | None, max_points: int | None) -> list[tuple]:
    """``(series_key, alias, ranks, timestamps, values)`` per series from
    the response table (:func:`_table`), samples ascending by timestamp
    (equal timestamps by value, NaN last, as ``sort_array`` ordered
    them), series in ``series_key`` then alias order."""
    import numpy as np

    tbl = _table(sf, max_series, max_points)
    if not tbl.num_rows:
        return []
    keys, aliases = (
        tbl.column(c).to_numpy(zero_copy_only=False) for c in ("series_key", "alias")
    )
    ts, vals, *ranks = (
        tbl.column(c).to_numpy(zero_copy_only=False).tolist()
        for c in ("ts", "value", *(sf.ordered_by or []))
    )
    # a series starts where the key or the alias changes (None == None)
    starts = np.flatnonzero((keys[1:] != keys[:-1]) | (aliases[1:] != aliases[:-1]))
    bounds = [0, *(starts + 1).tolist(), len(ts)]
    return [
        (keys[lo], aliases[lo], tuple(r[lo] for r in ranks), ts[lo:hi], vals[lo:hi])
        for lo, hi in zip(bounds, bounds[1:])
    ]


def to_matrix(
    sf: SeriesFrame,
    include_metadata: bool = True,
    include_alias: bool = True,
    max_series: int | None = None,
    max_points: int | None = None,
) -> dict[str, Any]:
    """SeriesFrame → matrix response dict (ordering: sort/topK list order
    when the frame carries one — SliceStage/SortStage list semantics —
    else canonical series_key order).

    ``include_metadata`` gates the per-series step/start/end block
    (PromMatrixResponseListener.java:142, REST default false);
    ``include_alias`` gates the alias field (the m3ql surface passes true,
    the promql surface false — RestM3QLAction.java:266 /
    RestPromQLAction.java:234).  ``max_series`` / ``max_points`` are the
    circuit-breaker caps, checked on the collected table (:func:`_table`)."""
    series = _series(sf, max_series, max_points)
    if sf.ordered_by:
        series.sort(key=lambda x: x[2])
    meta = (
        {"step": sf.step, "start": sf.min_ts, "end": sf.max_ts}
        if include_metadata
        else {}
    )
    result = [
        {
            "metric": _labels(key),
            **({"alias": alias} if include_alias and alias is not None else {}),
            "values": [[int(t), _fmt(v)] for t, v in zip(ts, vals)],
            **meta,
        }
        for key, alias, _, ts, vals in series
    ]
    return {"status": "success", "data": {"resultType": "matrix", "result": result}}


def to_vector(
    sf: SeriesFrame,
    time_ms: int,
    max_series: int | None = None,
    max_points: int | None = None,
) -> dict[str, Any]:
    """SeriesFrame (evaluated on a one-instant grid) → Prometheus
    instant-query vector response:

        {"status": "success",
         "data": {"resultType": "vector",
                  "result": [{"metric": {...}, "value": [ts, "v"]}, ...]}}

    Beyond the reference (its only sink is the matrix listener); format
    follows the Prometheus HTTP API ``/api/v1/query`` wire shape, with
    the millisecond timestamps this engine uses throughout. One sample
    per series: the most recent emission at or before ``time_ms``
    (Prometheus's lookback rule — the caller bounds the grid to the
    lookback window), reported at the evaluation instant. Series with no
    emission at or before the instant drop out, like stale series.
    The caps are :func:`to_matrix`'s.
    """
    result = []
    for key, _, _, ts, vals in _series(sf, max_series, max_points):
        at = bisect.bisect_right(ts, time_ms)
        if at:  # ascending — the last one at or before is the most recent
            result.append(
                {"metric": _labels(key), "value": [int(time_ms), _fmt(vals[at - 1])]}
            )
    return {"status": "success", "data": {"resultType": "vector", "result": result}}
