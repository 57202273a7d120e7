"""Round-13 regression tests: r12 ADVICE fixes (wide-hash word-count
validation, wire-barrier column carry-through) plus the r13
certifications (real-PNG wide-hash corpus, streaming state-scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_ahash_wide_hash_width_mismatch_fails_loudly(spark):
    """ADVICE r12 (multimodal.py): passing a 64-bit image_ahash output
    (1 word) with bits=256 (4 words) must RAISE, not silently emit
    NULL band keys that never join (recall loss that voids the
    pigeonhole-exactness guarantee)."""
    from py4j.protocol import Py4JJavaError

    from time_series_db_spark.pipeline import multimodal

    df = spark.createDataFrame(
        [(0, [7]), (1, [7])], "media_id long, ahash_words array<long>"
    )
    pairs = multimodal.ahash_neardup_pairs_wide(
        df, max_hamming=15, num_bands=16, bits=256
    )
    with pytest.raises(Exception, match="bits/64|USER_RAISED") as ei:
        pairs.collect()
    assert "ahash_neardup_pairs_wide" in str(ei.value)


def test_ahash_wide_valid_width_still_joins(spark):
    """The width guard must not perturb the valid path: identical
    4-word hashes pair at hamming 0."""
    from time_series_db_spark.pipeline import multimodal

    df = spark.createDataFrame(
        [(0, [7, -3, 11, 2]), (1, [7, -3, 11, 2])],
        "media_id long, ahash_words array<long>",
    )
    got = multimodal.ahash_neardup_pairs_wide(
        df, max_hamming=15, num_bands=16, bits=256
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(0, 1, 0)]


def test_isolate_input_carries_metadata_columns(spark):
    """ADVICE r12 (wire.py): the Generate barrier must carry every
    non-line column through (file name, ingest ts metadata), not
    silently project them away."""
    from time_series_db_spark.sources.wire import isolate_input

    df = spark.createDataFrame(
        [("cpu 1 2", "f1.txt", 99), ("mem 3 4", "f2.txt", 100)],
        "line string, src string, ingest_ts long",
    )
    out = isolate_input(df, "line")
    assert out.columns == ["line", "src", "ingest_ts"]
    rows = sorted((r["line"], r["src"], r["ingest_ts"]) for r in out.collect())
    assert rows == [("cpu 1 2", "f1.txt", 99), ("mem 3 4", "f2.txt", 100)]


def test_isolate_input_single_column_unchanged(spark):
    from time_series_db_spark.sources.wire import isolate_input

    df = spark.createDataFrame([("a",), ("b",)], "line string")
    out = isolate_input(df, "line")
    assert out.columns == ["line"]
    assert sorted(r["line"] for r in out.collect()) == ["a", "b"]


def _realpng_harness():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "ahash_realpng.py",
    )
    spec = importlib.util.spec_from_file_location("ahash_realpng", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ahash_wide_real_decoder_certification(spark):
    """r13 verdict item #2 (BASELINE.md round-13 note): the wide hash
    certified on the REAL stdlib PNG decode path, not the fake codec.
    Smooth-field corpus with planted near-dup groups: every planted
    pair within the radius must surface under the pinned stop-band
    configs, and the re-encoded copy must hash identically."""
    h = _realpng_harness()
    from time_series_db_spark.pipeline import multimodal

    rows, groups = h.build_corpus(400, seed=13)
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = multimodal.image_ahash_wide(media, decode_fn="real", grid=16)
    hmap = {r["media_id"]: r["ahash_words"] for r in hashes.collect()}
    assert len(hmap) == 400 and all(v is not None for v in hmap.values())

    true_pairs = set()
    for g in groups:
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                if h.hamming_words(hmap[g[i]], hmap[g[j]]) <= 15:
                    true_pairs.add((g[i], g[j]))
        # the re-encoded copy (same pixels, fresh deflate) is hash-equal
        assert h.hamming_words(hmap[g[0]], hmap[g[1]]) == 0
    assert true_pairs

    hdf = spark.createDataFrame(
        [(k, v) for k, v in hmap.items()],
        "media_id long, ahash_words array<long>",
    )
    for cap, min_recall in ((64, 1.0), (16, 0.98)):
        got = {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
            for r in multimodal.ahash_neardup_pairs_wide(
                hdf, max_hamming=15, num_bands=16, bits=256,
                max_bucket=cap,
            ).collect()
        }
        recall = len(true_pairs & got) / len(true_pairs)
        assert recall >= min_recall, (cap, recall)


def test_bench_session_factor_normalizes_uniform_inflation():
    """r13 drift adjudication: a run-wide uniform inflation (warm-JVM
    baselines vs long-session measurement) must NOT alarm, but an
    entry drifting relative to its own run must."""
    import bench

    entries = {
        f"q{i}": {"baseline_sec": 0.50} for i in range(9)
    }
    entries["hot"] = {"baseline_sec": 0.50}
    # every entry reads 1.3x (session shape), one reads 2.6x (real)
    timings = {f"q{i}": 0.65 for i in range(9)}
    timings["hot"] = 1.30
    factor = bench._session_factor(timings, entries)
    assert 1.25 < factor < 1.35
    # uniform 1.3x entries: 0.65 < 1.5 * 0.5 * factor -> no alarm
    assert 0.65 < bench.DRIFT_ALARM_RATIO * 0.50 * factor
    # the relative drifter still alarms
    assert 1.30 > bench.DRIFT_ALARM_RATIO * 0.50 * factor
    assert 1.30 - 0.50 * factor > bench.DRIFT_ALARM_MIN_SEC
    # factor is clamped so a run-wide REAL regression can't hide
    entries2 = {f"q{i}": {"baseline_sec": 0.50} for i in range(10)}
    timings2 = {f"q{i}": 1.50 for i in range(10)}  # 3x across the board
    assert bench._session_factor(timings2, entries2) == bench.SESSION_FACTOR_CAP
    # unbaselined-only run (all first measurements) -> neutral factor
    assert bench._session_factor({"new": 1.0}, {}) == 1.0


def test_semantic_dedup_auto_nlist_matches_explicit(spark):
    """r13 occupancy-knob audit: nlist='auto' resolves to
    max(16, ceil(n / SEMANTIC_TARGET_CELL)) and, at small n (-> 16),
    produces the identical survivor set as explicit nlist=16."""
    import math

    from time_series_db_spark.pipeline import dedup

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = dedup.semantic_dedup(df, nlist="auto", train_iters=1, threshold=0.9)
    explicit = dedup.semantic_dedup(df, nlist=16, train_iters=1, threshold=0.9)
    assert sorted(r.vec_id for r in auto.collect()) == sorted(
        r.vec_id for r in explicit.collect()
    )
    # the scaling arithmetic itself
    assert max(16, math.ceil(60 / dedup.SEMANTIC_TARGET_CELL)) == 16
    assert max(16, -(-200_000 // dedup.SEMANTIC_TARGET_CELL)) == 391
    with pytest.raises(ValueError, match="positive int or 'auto'"):
        dedup.semantic_dedup(df, nlist="always")


def test_simhash_stop_band_cap_drops_hot_bucket_keeps_pairs(spark):
    """r13 occupancy-knob audit: max_bucket drops band values shared by
    a boilerplate cluster while a small true near-dup pair survives."""
    from time_series_db_spark.pipeline import dedup

    boiler = [(i, "the quick brown fox jumps over the lazy dog") for i in range(40)]
    pair = [
        (100, "completely different content about spark shuffles and joins"),
        (101, "completely different content about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    capped = dedup.simhash_dedup_pairs(df, max_hamming=3, max_bucket=8)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 40 and b < 40 for a, b in got)  # boilerplate capped away
    uncapped = dedup.simhash_dedup_pairs(df, max_hamming=3)
    assert any(
        a < 40 and b < 40
        for a, b in ((r.id_a, r.id_b) for r in uncapped.collect())
    )
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.simhash_dedup_pairs(df, max_bucket=1)


def test_hard_negatives_ivf_auto_nlist_matches_explicit(spark):
    """r13 occupancy-knob audit: nlist='auto' resolves to 16 at small n
    and produces the identical mined negatives; candidates_only returns
    the pre-rank celled pairs (a superset of the ranked output)."""
    from time_series_db_spark.pipeline import ann

    rows = [
        (i, [float((i * 5 + j * 2) % 13 - 6) for j in range(4)], i % 3)
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    anchors = df.filter(F.col("vec_id") % 10 == 0)
    auto = ann.hard_negatives_ivf(df, anchors, k=3, nlist="auto", nprobe=2)
    explicit = ann.hard_negatives_ivf(df, anchors, k=3, nlist=16, nprobe=2)
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(key, auto.collect())) == sorted(
        map(key, explicit.collect())
    )
    cands = {
        (r.query_id, r.neighbor_id)
        for r in ann.hard_negatives_ivf(
            df, anchors, k=3, nlist=16, nprobe=2, candidates_only=True
        ).collect()
    }
    ranked = {(r.query_id, r.neighbor_id) for r in explicit.collect()}
    assert ranked <= cands and cands
    with pytest.raises(ValueError, match="positive int or 'auto'"):
        ann.hard_negatives_ivf(df, anchors, nlist=-2)


def test_simhash_candidates_only_superset_of_verified(spark):
    """candidates_only (the sweep/budget hook) returns the banded pairs
    before Hamming verification — a superset of the verified output."""
    from time_series_db_spark.pipeline import dedup

    docs = [
        (i, f"doc {i} alpha beta gamma delta " + "shared tail " * 3)
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cands = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_dedup_pairs(
            df, max_hamming=3, candidates_only=True
        ).collect()
    }
    verified = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_dedup_pairs(df, max_hamming=3).collect()
    }
    assert verified <= cands


def _hier_test_vectors(spark, n=600, dim=8, n_clusters=12):
    # well-separated deterministic clusters: centroid c at 10*onehot
    # pattern + small per-vector jitter
    rows = []
    for i in range(n):
        c = i % n_clusters
        base = [10.0 if (j % n_clusters) == c else 0.0 for j in range(dim)]
        rows.append(
            (i, [v + ((i * 31 + j * 7) % 5) * 0.01 for j, v in enumerate(base)])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_assign_hier_full_probe_equals_exact(spark):
    """super_probe >= n_super routes every super-cell, so the two-level
    assignment must degenerate to EXACTLY the flat argmax."""
    from pyspark.sql import functions as F  # noqa: F811

    from time_series_db_spark.pipeline import ann

    df = _hier_test_vectors(spark)
    vecs = df.select(
        "vec_id", ann._as_double(F.col("embedding")).alias("__v")
    )
    cents = vecs.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("__cid"), F.col("__v").alias("__centroid")
    )
    exact = {
        r["vec_id"]: r["__cell"]
        for r in ann.ivf_assign(vecs, cents, nprobe=1).collect()
    }
    hier = {
        r["vec_id"]: r["__cell"]
        for r in ann.ivf_assign_hier(
            vecs, cents, nprobe=1, super_probe=40, n_cents=40
        ).collect()
    }
    assert hier == exact


def test_ivf_assign_hier_routes_clustered_data_exactly(spark):
    """On well-separated clusters the default super_probe finds every
    vector's true nearest centroid (the approximation only bites on
    boundary vectors, which this corpus has none of)."""
    from pyspark.sql import functions as F  # noqa: F811

    from time_series_db_spark.pipeline import ann

    df = _hier_test_vectors(spark)
    vecs = df.select(
        "vec_id", ann._as_double(F.col("embedding")).alias("__v")
    )
    cents = vecs.filter(F.col("vec_id") < 36).select(
        F.col("vec_id").alias("__cid"), F.col("__v").alias("__centroid")
    )
    exact = {
        r["vec_id"]: r["__cell"]
        for r in ann.ivf_assign(vecs, cents, nprobe=1).collect()
    }
    hier = {
        r["vec_id"]: r["__cell"]
        for r in ann.ivf_assign_hier(
            vecs, cents, nprobe=1, n_cents=36
        ).collect()
    }
    assert len(hier) == len(exact)
    agree = sum(1 for k in exact if hier[k] == exact[k])
    assert agree / len(exact) >= 0.95, agree / len(exact)


@pytest.mark.slow
def test_semantic_dedup_hierarchical_path_partitions_fully(spark):
    """Above HIER_ASSIGN_MIN_NLIST semantic_dedup runs the two-level
    assignment end-to-end: deterministic, every vector lands in exactly
    one cell, survivors ∪ dropped = corpus."""
    from time_series_db_spark.pipeline import ann, dedup

    df = _hier_test_vectors(spark, n=600)
    nlist = ann.HIER_ASSIGN_MIN_NLIST
    out1 = dedup.semantic_dedup(
        df, nlist=nlist, train_iters=1, threshold=0.999
    ).collect()
    out2 = dedup.semantic_dedup(
        df, nlist=nlist, train_iters=1, threshold=0.999
    ).collect()
    assert sorted((r.vec_id, r.cell) for r in out1) == sorted(
        (r.vec_id, r.cell) for r in out2
    )
    # the synthetic clusters are near-duplicate by construction (0.01
    # jitter on magnitude-10 directions), so SemDeDup collapses each
    # (cell, cluster) group to its min-id survivor: at least one
    # survivor per cluster, far fewer than the corpus
    ids = [r.vec_id for r in out1]
    assert len(ids) == len(set(ids)) and set(ids) <= set(range(600))
    assert 12 <= len(ids) < 300
    assert {i % 12 for i in ids} == set(range(12))  # every cluster survives


@pytest.mark.slow
def test_ivf_fit_auto_nlist_and_hier_search_contract(spark):
    """ivf_fit(nlist='auto') sizes the index for its corpus (16 floor
    at small n, identical tables to explicit nlist=16), and
    ivf_kmeans_topk on a LARGE prebuilt index routes queries two-level
    while honoring the top-k contract."""
    from pyspark.sql import functions as F  # noqa: F811

    from time_series_db_spark.pipeline import ann

    df = _hier_test_vectors(spark, n=400)
    auto = ann.ivf_fit(df, nlist="auto", train_iters=1)
    explicit = ann.ivf_fit(df, nlist=16, train_iters=1)
    assert sorted(
        (r["vec_id"], r["cell"]) for r in auto["cells"].collect()
    ) == sorted((r["vec_id"], r["cell"]) for r in explicit["cells"].collect())
    with pytest.raises(ValueError, match="positive int or 'auto'"):
        ann.ivf_fit(df, nlist=0)

    # large index: force the hierarchical fit+routing path end-to-end
    big = ann.ivf_fit(
        df, nlist=ann.HIER_ASSIGN_MIN_NLIST, train_iters=1
    )
    queries = df.filter(F.col("vec_id") % 40 == 0)
    out = ann.ivf_kmeans_topk(queries=queries, k=3, nprobe=2, model=big)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {r.vec_id for r in queries.collect()}
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= 3
        # neighbors from the same tight cluster score ~1.0 cosine
        assert max(r.cosine for r in rs) > 0.99
