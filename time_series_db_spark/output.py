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
"""

from __future__ import annotations

import bisect
import math
from typing import Any

from pyspark.sql import DataFrame

from time_series_db_spark.model import _KV_SEP, _PAIR_SEP, SeriesFrame


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


def _series(sf: SeriesFrame) -> list[tuple]:
    """``(series_key, alias, ranks, timestamps, values)`` per series from
    one Arrow collect of :func:`matrix_frame`, samples ascending by
    timestamp (equal timestamps by value, NaN last, as ``sort_array``
    ordered them), series in ``series_key`` then alias order."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = matrix_frame(sf).toArrow()
    if not tbl.num_rows:
        return []
    order = pc.sort_indices(
        tbl,
        sort_keys=[(c, "ascending") for c in ("series_key", "alias", "ts", "value")],
        null_placement="at_end",
    )
    tbl = tbl.take(order)
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
) -> dict[str, Any]:
    """SeriesFrame → matrix response dict (ordering: sort/topK list order
    when the frame carries one — SliceStage/SortStage list semantics —
    else canonical series_key order).

    ``include_metadata`` gates the per-series step/start/end block
    (PromMatrixResponseListener.java:142, REST default false);
    ``include_alias`` gates the alias field (the m3ql surface passes true,
    the promql surface false — RestM3QLAction.java:266 /
    RestPromQLAction.java:234)."""
    series = _series(sf)
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


def to_vector(sf: SeriesFrame, time_ms: int) -> dict[str, Any]:
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
    """
    result = []
    for key, _, _, ts, vals in _series(sf):
        at = bisect.bisect_right(ts, time_ms)
        if at:  # ascending — the last one at or before is the most recent
            result.append(
                {"metric": _labels(key), "value": [int(time_ms), _fmt(vals[at - 1])]}
            )
    return {"status": "success", "data": {"resultType": "vector", "result": result}}
