"""Oracle checks: every facade response is compared with DuckDB.

A Prometheus matrix response is flattened into (labels, ts, value)
rows and compared with the oracle's rows as a multiset: the (labels,
ts) keys must match exactly, and the values under each key must agree
after the catalog's 1e-4 quantisation (``floor(v·1e4 + 0.5) / 1e4``),
allowing for a value that straddles a rounding boundary (see
:func:`_same`).
"""

from __future__ import annotations

import glob
import math
import os
from collections import defaultdict

import duckdb


def _num(v) -> float:
    return float("nan") if v is None else float(v)


def _quant(v: float) -> float:
    if math.isnan(v) or math.isinf(v) or abs(v) >= 1e12:
        return v
    return math.floor(v * 10000.0 + 0.5) / 10000


def flatten_matrix(resp: dict, keys: list[str] | None = None) -> list[tuple]:
    """Matrix response → [(sorted label items, ts, value)].  With ``keys``
    the labels are projected onto those names, as the catalog's oracle
    comparisons select them (an absent label reads as None)."""
    rows = []
    for series in resp["data"]["result"]:
        metric = series["metric"]
        if keys is not None:
            metric = {k: metric.get(k) for k in keys}
        labels = tuple(sorted((k, str(v)) for k, v in metric.items()))
        for ts, v in series["values"]:
            rows.append((labels, int(ts), float(v)))
    return rows


def flatten_sql(cols: list[str], records) -> list[tuple]:
    """DuckDB rows (label columns…, ts, value) → the same row shape."""
    lbl = [c for c in cols if c not in ("ts", "value")]
    its, iv = cols.index("ts"), cols.index("value")
    out = []
    for rec in records:
        labels = tuple(sorted((c, str(rec[cols.index(c)])) for c in lbl))
        out.append((labels, int(rec[its]), _num(rec[iv])))
    return out


def _same(a: float, b: float) -> bool:
    """Equal after quantisation.  The service returns raw values and a
    catalog oracle quantised ones, so a value computed in another
    summation order can land on the far side of a rounding boundary
    (7.69375000000000005 vs 7.6937): within half a quantum plus float
    noise also counts as equal, a whole quantum does not."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    if _quant(a) == _quant(b):
        return True
    return abs(a - b) <= 0.5e-4 + 1e-9 * max(1.0, abs(a), abs(b))


def label_keys(rows: list[tuple]) -> list[str] | None:
    """The label names of oracle rows (None when there are no rows)."""
    return [k for k, _ in rows[0][0]] if rows else None


def diff(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets agree, else a short reason."""
    g, w = defaultdict(list), defaultdict(list)
    for labels, ts, v in got:
        g[(labels, ts)].append(v)
    for labels, ts, v in want:
        w[(labels, ts)].append(v)
    if g.keys() != w.keys():
        extra, missing = g.keys() - w.keys(), w.keys() - g.keys()
        some = next(iter(extra or missing))
        return (
            f"{len(got)} rows vs {len(want)} expected; {len(extra)} unexpected "
            f"and {len(missing)} missing (labels, ts) keys, e.g. {some}"
        )
    for key, vals in g.items():
        exp = w[key]
        if len(vals) != len(exp):
            return f"{key}: {len(vals)} values vs {len(exp)} expected"
        for a, b in zip(sorted(vals, key=_sort_key), sorted(exp, key=_sort_key)):
            if not _same(a, b):
                return f"{key}: value {a!r} vs expected {b!r}"
    return None


def _sort_key(v: float):
    return (math.isnan(v), 0.0 if math.isnan(v) else v)


class Oracle:
    """DuckDB over the run's inputs: the ``events`` fixture and
    the ingest documents."""

    def __init__(self, events_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
        )

    def rows(self, sql: str) -> list[tuple]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return flatten_sql(cols, cur.fetchall())

    # -- ingest ------------------------------------------------------------

    def load_docs(self, doc_paths: list[str], cutoff_ms: int) -> None:
        """Index the ingest documents by arrival batch (file k = batch k)
        and mark which ones the stream must accept.  The stream drops a
        row of batch k that is older than the watermark it filters late
        rows with — the previous batch's watermark, i.e. the newest
        timestamp of batches 0..k-2 minus the out-of-order cutoff.  Exact
        retransmits collapse to one (first write wins, values are
        identical)."""
        files = ", ".join(f"'{p}'" for p in doc_paths)
        self.con.execute(f"""
        CREATE OR REPLACE TABLE docs AS
        SELECT CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS batch,
               split_part(labels, ' ', 2) AS name,
               split_part(labels, ' ', 4) AS host,
               split_part(labels, ' ', 6) AS dc,
               "timestamp" AS ts, value
        FROM read_json([{files}], filename = true,
                       columns = {{labels: 'VARCHAR', "timestamp": 'BIGINT',
                                   value: 'DOUBLE'}})""")
        self.con.execute(f"""
        CREATE OR REPLACE TABLE accepted AS
        WITH marks AS (
          SELECT batch, max(ts) OVER (ORDER BY batch
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS seen
          FROM (SELECT batch, max(ts) AS ts FROM docs GROUP BY batch))
        SELECT DISTINCT d.batch, d.name, d.host, d.dc, d.ts, d.value
        FROM docs d JOIN marks m USING (batch)
        WHERE m.seen IS NULL OR d.ts >= m.seen - {cutoff_ms}""")
        # a retransmit accepted in a later batch is the same sample
        self.con.execute("""
        CREATE OR REPLACE TABLE accepted AS
        SELECT min(batch) AS batch, name, host, dc, ts, any_value(value) AS value
        FROM accepted GROUP BY name, host, dc, ts""")

    def accepted_count(self, through_batch: int) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM accepted WHERE batch <= {through_batch}"
        ).fetchone()[0]

    def ingest_rows(self, q: dict, through_batch: int, start: int, end: int) -> list[tuple]:
        """Expected answer of reader query ``q`` over the table holding
        batches 0..``through_batch``: MetricsSource's grid alignment
        (latest raw timestamp wins per series and bucket), then the
        family's SELECT."""
        step = q["step"]
        return self.rows(f"""
        WITH aligned AS (
          SELECT name, host, dc, ts - ts % {step} AS ts, arg_max(value, ts) AS value
          FROM accepted
          WHERE batch <= {through_batch} AND ts >= {start} AND ts < {end}
          GROUP BY name, host, dc, ts - ts % {step})
        {q['sql']}""")

    def table_rows(self, table_path: str) -> list[tuple]:
        """The committed contents of a block-partitioned metrics table,
        read straight from its parquet files."""
        files = sorted(glob.glob(os.path.join(table_path, "block=*", "*.parquet")))
        if not files:
            return []
        got = self.con.execute(f"""
        SELECT series_key, ts, value
        FROM read_parquet([{", ".join(f"'{f}'" for f in files)}])""").fetchall()
        return sorted(got)

    def expected_table_rows(self, through_batch: int) -> list[tuple]:
        return sorted(self.con.execute(f"""
        SELECT 'dc:' || dc || ',host:' || host || ',name:' || name, ts, value
        FROM accepted WHERE batch <= {through_batch}""").fetchall())
