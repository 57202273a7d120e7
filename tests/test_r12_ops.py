"""Round-12 regression tests: ADVICE.md fixes (grid-extent clip,
oracle scale parity, model-mode param guards, deterministic delta
survivors) plus the r12 throughput certifications."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _sf_nondivisible(spark):
    """step=3000 grid over [0, 10000) — (max_ts - min_ts) % step != 0,
    so the grid is [0, 3000, 6000] and a step-aligned sample at 9000
    lies inside [min_ts, max_ts) but OFF the grid."""
    from time_series_db_spark.model import SeriesFrame, series_key_expr

    rows = [(t, float(i + 1)) for i, t in enumerate([0, 3000, 9000])]
    df = (
        spark.createDataFrame(rows, "ts long, value double")
        .withColumn("labels", F.create_map(F.lit("name"), F.lit("m")))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    return SeriesFrame(df=df, step=3000, min_ts=0, max_ts=10_000)


def test_densify_clips_to_actual_grid_extent(spark):
    """ADVICE r11 (windows.py:46): with a non-step-divisible range, an
    aligned sample past the last grid point must NOT leak into the
    densified output — the dense grid never contained that row."""
    from time_series_db_spark.operators.windows import transform_null

    sf = _sf_nondivisible(spark)
    out = transform_null(sf, constant=0.0).df.orderBy("ts").collect()
    assert [r["ts"] for r in out] == [0, 3000, 6000]
    assert [r["value"] for r in out] == [1.0, 2.0, 0.0]


def test_is_non_null_clips_to_actual_grid_extent(spark):
    from time_series_db_spark.operators.windows import is_non_null

    sf = _sf_nondivisible(spark)
    out = is_non_null(sf).df.orderBy("ts").collect()
    assert [(r["ts"], r["value"]) for r in out] == [
        (0, 1.0), (3000, 1.0), (6000, 0.0)
    ]


def test_changed_clips_to_actual_grid_extent(spark):
    """`changed`'s sparse union must also honor the grid extent: the
    off-grid ts=9000 sample is not a grid point, so output rows are
    exactly the 3 grid points."""
    from time_series_db_spark.operators.windows import changed

    sf = _sf_nondivisible(spark)
    out = changed(sf).df.orderBy("ts").collect()
    assert [r["ts"] for r in out] == [0, 3000, 6000]


@pytest.mark.slow
def test_embedding_cosine_oracle_parity_beyond_512_vectors(spark):
    """ADVICE r11 (catalog_pipeline.py:410): the Spark side auto-scales
    planes_per_band with the corpus while the old oracle was pinned to
    4 planes — they agreed only for n ≤ 512 vectors.  The r12 oracle
    computes the plane count in SQL; this pins the differential at
    sf0.1 (2000 vectors → 6 planes), the exact regime that used to
    silently diverge."""
    import duckdb

    from time_series_db_spark.catalog import ORACLES, QUERIES

    sf_dir = "/root/testdata/sf0.1"
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = set(map(tuple, con.execute(
        ORACLES["dedup_embedding_cosine"]
    ).fetchall()))
    con.close()
    assert got == want
    assert len(got) > 0


def test_embedding_auto_planes_formula_matches_oracle_sql():
    """The Python auto formula and the SQL greatest/ceil/log2 rendering
    must agree at every corpus size (incl. the power-of-two boundaries
    where a 1-ulp log2 difference would flip the ceil)."""
    import math

    import duckdb

    con = duckdb.connect()
    for n in [2, 32, 64, 128, 500, 512, 513, 2000, 2048, 50_000, 1_048_576]:
        py = max(4, math.ceil(math.log2(max(n, 2) / 32)))
        sql = con.execute(
            "SELECT greatest(4, CAST(ceil(log2(? / 32.0)) AS BIGINT))", [n]
        ).fetchone()[0]
        assert py == sql, (n, py, sql)
    con.close()


def test_minhash_update_intra_delta_conflict_is_deterministic(spark):
    """ADVICE r11 (dedup.py:316): one delta carrying the same id with
    DIFFERENT payloads must store one deterministic signature — the
    lexicographically-greatest text — not an arbitrary
    partition-order-dependent pick."""
    from time_series_db_spark.pipeline import dedup

    base = spark.createDataFrame(
        [(1, "old content here")], "doc_id long, text string"
    )
    model = dedup.minhash_fit(base)
    delta = spark.createDataFrame(
        [(2, "zzz revised crawl of doc two"),
         (2, "aaa first crawl of doc two")],
        "doc_id long, text string",
    ).repartition(4)
    out = dedup.minhash_update(model, docs=delta)
    rows = out.filter(F.col("doc_id") == 2).collect()
    assert len(rows) == 1
    want = dedup.minhash_signatures(
        spark.createDataFrame(
            [(2, "zzz revised crawl of doc two")], "doc_id long, text string"
        )
    ).collect()[0]
    assert rows[0].asDict() == want.asDict()


def test_ivf_update_intra_delta_conflict_is_deterministic(spark):
    """Same contract for the IVF index: the survivor is the
    lexicographically-greatest vector."""
    from time_series_db_spark.pipeline import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    model = ann.ivf_fit(corpus, nlist=2, train_iters=1)
    delta = spark.createDataFrame(
        [(100, [9.0, 9.0]), (100, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    out = ann.ivf_update(model, delta)
    rows = out["cells"].filter(F.col("vec_id") == 100).collect()
    assert len(rows) == 1
    assert rows[0]["vector"] == [9.0, 9.0]


@pytest.mark.slow
def test_ivf_kmeans_model_mode_rejects_only_explicit_fit_knobs(spark):
    """ADVICE r11 (ann.py:439): the guard must not compare against
    hardcoded default literals — omitted knobs pass, ANY explicitly
    passed knob (even one matching the fit) is rejected."""
    from time_series_db_spark.pipeline import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.limit(2)
    model = ann.ivf_fit(corpus, nlist=2, train_iters=1)
    # omitted -> fine
    assert ann.ivf_kmeans_topk(queries=queries, model=model, k=2).count() > 0
    # the OLD default literals are no longer a silent pass
    with pytest.raises(ValueError, match="nlist"):
        ann.ivf_kmeans_topk(queries=queries, model=model, nlist=16)
    with pytest.raises(ValueError, match="train_iters"):
        ann.ivf_kmeans_topk(queries=queries, model=model, train_iters=2)
    # inline-fit path: omitted knobs resolve to the documented defaults
    assert ann.ivf_kmeans_topk(corpus, queries, k=2).count() > 0


T0 = 1_704_067_200_000


def _wire_lines(fmt: str, n: int, ts0: int, series: int = 50) -> str:
    """n lines of the given wire format, n/series timestamps per series
    starting at ts0 (ms), one minute apart."""
    out = []
    for i in range(n):
        s, t = i % series, ts0 + (i // series) * 60_000
        v = float(i % 97)
        if fmt == "exposition":
            out.append(f'wire_cpu{{host="h{s}"}} {v} {t}')
        elif fmt == "lineprotocol":
            out.append(f"wire,host=h{s} cpu={v} {t * 1_000_000}")
        else:  # graphite
            out.append(f"wire.cpu;host=h{s} {v} {t // 1000}")
    return "\n".join(out) + "\n"


@pytest.mark.slow
@pytest.mark.parametrize("fmt", ["exposition", "lineprotocol", "graphite"])
def test_wire_ingest_per_batch_cost_is_store_size_invariant(
    spark, tmp_path, fmt
):
    """Throughput certification of the three metrics text-wire streaming
    legs (r11 verdict item #4), the same construction as the r11 doc
    ingest certification: the same fresh micro-batch ingested into a
    10× larger accumulated store must not get materially slower — the
    store is append-only parquet (never read on the write path) and the
    dedup state is bounded by the watermark, not the store.  All three
    legs share streaming/ingest.py:start_text_wire_ingest, so one
    parameterized test certifies the shared core under each parser.
    Measured off-harness (BASELINE.md r12) per-batch medians are flat
    in store size; the 2.5× bound leaves slack over timing noise while
    failing anything resembling O(store) work per batch."""
    import statistics
    import time

    from time_series_db_spark.sources.exposition import (
        start_exposition_ingest,
    )
    from time_series_db_spark.sources.graphite import start_graphite_ingest
    from time_series_db_spark.sources.lineprotocol import (
        start_line_protocol_ingest,
    )

    starter = {
        "exposition": start_exposition_ingest,
        "lineprotocol": start_line_protocol_ingest,
        "graphite": start_graphite_ingest,
    }[fmt]

    def run_once(src, store, ckpt) -> float:
        t0 = time.time()
        q = starter(
            spark, str(src), str(store),
            checkpoint_dir=str(ckpt), available_now=True,
        )
        q.awaitTermination(300)
        return time.time() - t0

    def median_batch_time(accum_lines: int, tag: str) -> float:
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        store = tmp_path / f"store_{tag}"
        ckpt = tmp_path / f"ckpt_{tag}"
        (src / "accum.txt").write_text(
            _wire_lines(fmt, accum_lines, T0)
        )
        run_once(src, store, ckpt)  # accumulate (untimed)
        times = []
        for i in range(3):
            # fresh timestamps 30+ min ahead: the watermark passes the
            # accumulation range, so dedup state stays batch-bounded
            (src / f"batch{i}.txt").write_text(
                _wire_lines(fmt, 500, T0 + (30 + i) * 60_000)
            )
            times.append(run_once(src, store, ckpt))
        return statistics.median(times[1:])  # first run absorbs JIT

    t_small = median_batch_time(2_000, "1x")
    t_big = median_batch_time(20_000, "10x")
    assert t_big < t_small * 2.5, (
        f"{fmt}: per-batch ingest cost grew with the accumulated store: "
        f"{t_small:.2f}s @2k rows -> {t_big:.2f}s @20k rows"
    )


def test_correlate_matrix_auto_band_symbols(spark, sf_dir):
    """r12 two-decade fix: band_symbols='auto' holds bucket occupancy
    as the fleet grows (the fixed 4-symbol config dropped EVERY bucket
    at 750k series and returned an empty matrix).  At a small fleet
    auto resolves to the default 4, so candidates match the fixed
    config exactly; the guard accepts the sentinel."""
    from time_series_db_spark.catalog import (
        _CMX_CAP, _CMX_COARSE, _CORR_STEP, _fetch,
    )
    from time_series_db_spark.operators import stats as stats_ops

    sf = _fetch(spark, sf_dir, step=_CORR_STEP)
    fixed = stats_ops.correlate_matrix_candidates(
        sf, coarse_ms=_CMX_COARSE, band_symbols=4, max_bucket=_CMX_CAP
    )
    auto = stats_ops.correlate_matrix_candidates(
        sf, coarse_ms=_CMX_COARSE, band_symbols="auto", max_bucket=_CMX_CAP
    )
    got_f = {(r["__ka"], r["__kb"]) for r in fixed.collect()}
    got_a = {(r["__ka"], r["__kb"]) for r in auto.collect()}
    assert got_a == got_f
    with pytest.raises(ValueError):
        stats_ops.correlate_matrix(sf, coarse_ms=0, band_symbols="auto")


def test_embedding_neardup_stop_band_cap(spark):
    """r12 two-decade fix: max_bucket drops direction-cluster buckets
    (where hyperplane LSH is uninformative) while isolated near-dup
    pairs still surface — the same stop-band contract the ahash and
    correlate banding already carry."""
    from time_series_db_spark.pipeline import dedup

    # 40 near-identical vectors (one direction cluster: same bucket in
    # every band) + one isolated near-dup pair in another direction
    cluster = [(i, [1.0, 0.01 * (i % 3), 0.0, 0.0]) for i in range(40)]
    pair = [(100, [0.0, 0.0, 1.0, 0.02]), (101, [0.0, 0.0, 1.0, 0.021])]
    df = spark.createDataFrame(
        cluster + pair, "vec_id long, embedding array<double>"
    )
    capped = dedup.embedding_neardup_pairs(
        df, threshold=0.9, max_bucket=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), "cluster bucket must be dropped"
    uncapped = dedup.embedding_neardup_pairs(df, threshold=0.9).collect()
    assert len(uncapped) > len(capped), "uncapped keeps the cluster pairs"


def test_ahash_wide_pigeonhole_exactness(spark):
    """The 256-bit banded near-dup must find EVERY pair within
    max_hamming < num_bands (pigeonhole over 16-bit bands), verified
    against the brute-force popcount on a corpus with planted flips."""
    import itertools
    import random

    from time_series_db_spark.pipeline import multimodal

    rng = random.Random(7)
    base = [rng.getrandbits(64) - (1 << 63) for _ in range(4)]

    def flip(words, positions):
        out = list(words)
        for p in positions:
            out[p // 64] ^= 1 << (p % 64)
            # keep signed-int64 range for Spark's long
            if out[p // 64] >= 1 << 63:
                out[p // 64] -= 1 << 64
        return out

    rows = [(0, base)]
    rows.append((1, flip(base, [3, 70, 200])))          # hamming 3
    rows.append((2, flip(base, list(range(0, 30)))))    # hamming 30
    rows.append((3, flip(base, [255])))                 # hamming 1
    df = spark.createDataFrame(rows, "media_id long, ahash_words array<long>")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.ahash_neardup_pairs_wide(
            df, max_hamming=15, num_bands=16, bits=256
        ).collect()
    }

    def ham(a, b):
        return sum(
            bin((x - y if False else x ^ y) & ((1 << 64) - 1)).count("1")
            for x, y in zip(a, b)
        )

    want = {
        (i, j): ham(rows[i][1], rows[j][1])
        for i, j in itertools.combinations(range(4), 2)
        if ham(rows[i][1], rows[j][1]) <= 15
    }
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 3
    assert (0, 3) in got and got[(0, 3)] == 1
    assert (0, 2) not in got


def test_ahash_wide_band_width_guards(spark):
    from time_series_db_spark.pipeline import multimodal

    df = spark.createDataFrame(
        [(0, [0, 0, 0, 0])], "media_id long, ahash_words array<long>"
    )
    with pytest.raises(ValueError, match="divide"):
        multimodal.ahash_neardup_pairs_wide(df, num_bands=3, bits=256)
    with pytest.raises(ValueError, match="max_hamming"):
        multimodal.ahash_neardup_pairs_wide(
            df, max_hamming=16, num_bands=16, bits=256
        )
    with pytest.raises(ValueError, match="grid"):
        multimodal.image_ahash_wide(df, grid=10)


def test_sustain_clips_to_actual_grid_extent(spark):
    from time_series_db_spark.operators.windows import sustain

    sf = _sf_nondivisible(spark)
    out = sustain(sf, 3000).df.orderBy("ts").collect()
    assert all(r["ts"] in (0, 3000, 6000) for r in out)
