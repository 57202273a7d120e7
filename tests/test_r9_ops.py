"""Round-9 operator tests: BPE fit/apply split, MMR shortlist guard,
overlap-score broadcast gate, correlation matrix, auto-season."""

from __future__ import annotations

import pytest

from tests.test_r7_ops import _bpe_replay


# ---------------------------------------------------------------------------
# BPE fit/apply split (pipeline/bpe.py: bpe_apply / model= parameter)
# ---------------------------------------------------------------------------

def _replay_apply(word: str, merges) -> list[str]:
    """Python replay of bpe_apply's OOV path: initial spaced sequence,
    then every merge's literal replace in rank order."""
    seq = " " + " ".join(word) + " "
    for _rank, left, right, _freq in merges:
        seq = seq.replace(f" {left} {right} ", f" {left}{right} ")
    return seq.strip().split(" ")


def test_bpe_apply_seen_words_match_trained_table(spark):
    from time_series_db_spark.pipeline import bpe

    texts = [
        "low low low low lower lower newest newest newest",
        "widest widest new new lowest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    model = bpe.bpe_train(docs, n_merges=6)
    applied = {
        r["__w"]: r["__seq"] for r in bpe.bpe_apply(model, docs).collect()
    }
    trained = {r["__w"]: r["__seq"] for r in model[1].collect()}
    assert applied == trained


def test_bpe_apply_oov_words_replay_merge_list(spark):
    from time_series_db_spark.pipeline import bpe

    train_texts = ["low low low lower lower newest newest", "new new west"]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id long, text string",
    )
    model = bpe.bpe_train(train, n_merges=6)
    merges, _ = model
    # 'lowest' and 'newer' never occur in training — pure OOV replay;
    # 'low' is seen — trained-table path.
    apply_docs = spark.createDataFrame(
        [(0, "lowest newer low")], "doc_id long, text string"
    )
    applied = {
        r["__w"]: r["__seq"].strip().split(" ")
        for r in bpe.bpe_apply(model, apply_docs).collect()
    }
    assert set(applied) == {"lowest", "newer", "low"}
    for w in ("lowest", "newer", "low"):
        assert applied[w] == _replay_apply(w, merges), w
    # reassembly invariant: segmentation concatenates back to the word
    for w, syms in applied.items():
        assert "".join(syms) == w


def test_bpe_encode_with_model_never_retrains(spark, monkeypatch):
    from time_series_db_spark.pipeline import bpe

    train = spark.createDataFrame(
        [(0, "aa aa ab ab b"), (1, "aa b ab")], "doc_id long, text string"
    )
    model = bpe.bpe_train(train, n_merges=3)
    apply_docs = spark.createDataFrame(
        [(7, "ab aa ba")], "doc_id long, text string"
    )

    calls = {"n": 0}
    real = bpe.bpe_train

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(bpe, "bpe_train", counting)
    enc = bpe.bpe_encode(apply_docs, model=model).collect()
    cnt = bpe.bpe_token_counts(apply_docs, model=model).collect()
    assert calls["n"] == 0, "model= path must not retrain"
    assert len(enc) > 0 and len(cnt) == 1

    # positions are a contiguous 0..n-1 stream per document
    positions = sorted(r["pos"] for r in enc)
    assert positions == list(range(len(enc)))
    assert cnt[0]["n_tokens"] == len(enc)


def test_bpe_encode_model_matches_self_trained_on_same_corpus(spark):
    """On the SAME corpus, encode(model=train(corpus)) must equal the
    legacy self-trained encode — the split changes the API, not the
    tokens."""
    from time_series_db_spark.pipeline import bpe

    texts = ["low low lower newest", "new lowest west newest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    legacy = sorted(
        tuple(r) for r in bpe.bpe_encode(docs, n_merges=5).collect()
    )
    model = bpe.bpe_train(docs, n_merges=5)
    split = sorted(
        tuple(r) for r in bpe.bpe_encode(docs, model=model).collect()
    )
    assert legacy == split


def test_bpe_fertility_with_model(spark):
    from time_series_db_spark.pipeline import bpe

    train = spark.createDataFrame(
        [(0, "aa aa aa ab ab")], "doc_id long, text string"
    )
    model = bpe.bpe_train(train, n_merges=1)  # merges 'a a' -> 'aa'
    apply_docs = spark.createDataFrame(
        [(1, "aa ab ba", "xx")], "doc_id long, text string, lang string"
    )
    rows = bpe.bpe_fertility(apply_docs, model=model).collect()
    assert len(rows) == 1
    r = rows[0]
    # aa -> [aa] (1), ab -> [aa? no: a b -> after merge 'a a'->'aa': ab
    # stays 'a b' (2)], ba -> 'b a' (2) => 5 subwords / 3 words
    assert (r["n_words"], r["n_subwords"]) == (3, 5)
    assert r["fertility"] == pytest.approx(5 / 3)


# ---------------------------------------------------------------------------
# MMR shortlist guard (pipeline/retrieval.py: MAX_MMR_SHORTLIST)
# ---------------------------------------------------------------------------

def _mmr_fixture(spark):
    short = spark.createDataFrame(
        [(i, 1.0 - 0.1 * i) for i in range(6)], "doc_id long, rel double"
    )
    embs = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    return short, embs


def test_mmr_rerank_refuses_oversized_shortlist(spark, monkeypatch):
    """The coordinator selection needs a metadata-sized shortlist; past
    MAX_MMR_SHORTLIST it must refuse with a pointer at the top-n cut
    (same contract as ann.hard_negatives / MAX_HN_ANCHORS)."""
    from time_series_db_spark.pipeline import retrieval

    short, embs = _mmr_fixture(spark)
    monkeypatch.setattr(retrieval, "MAX_MMR_SHORTLIST", 5)
    with pytest.raises(ValueError, match="top-n"):
        retrieval.mmr_rerank(short, embs, k=2)
    # at the cap it selects (the constant is read per call)
    monkeypatch.setattr(retrieval, "MAX_MMR_SHORTLIST", 6)
    out = retrieval.mmr_rerank(short, embs, k=2)
    assert len(out.collect()) == 2


def test_mmr_rerank_string_ids_and_rel_col_name(spark):
    """Output schema derives the id type from the shortlist (string doc
    ids must work) and keeps the caller's rel_col name."""
    from time_series_db_spark.pipeline import retrieval

    short = spark.createDataFrame(
        [("a", 1.0), ("b", 0.9), ("c", 0.8)],
        "doc_id string, relevance double",
    )
    embs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = retrieval.mmr_rerank(short, embs, k=2, rel_col="relevance")
    assert out.columns == ["doc_id", "relevance", "mmr_score", "rank"]
    rows = {r["rank"]: r["doc_id"] for r in out.collect()}
    # rank 1: best rel ('a'); rank 2: 'c' (diversified away from near-dup 'b')
    assert rows == {1: "a", 2: "c"}


# ---------------------------------------------------------------------------
# overlap_score eval-broadcast probe gate (pipeline/decontam.py)
# ---------------------------------------------------------------------------

def test_overlap_score_guards_eval_broadcast(spark, monkeypatch):
    """The eval gram set is data-dependent (a mega-benchmark union is
    not metadata-sized): the broadcast hint must come from the bounded
    probe, falling back unhinted above MAX_BROADCAST_TOKEN_ROWS."""
    from tests.test_plan_quality import _analyzed_hints
    from time_series_db_spark.pipeline import decontam, text

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 4) for i in range(4)],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(0, "alpha beta gamma delta alpha beta gamma delta")],
        "doc_id long, text string",
    )
    default = _analyzed_hints(decontam.overlap_score(corpus, eval_set, n=4))
    monkeypatch.setattr(text, "MAX_BROADCAST_TOKEN_ROWS", 0)
    guarded = _analyzed_hints(decontam.overlap_score(corpus, eval_set, n=4))
    assert guarded == default - 1


# ---------------------------------------------------------------------------
# celled all-pairs correlation matrix (operators/stats.py:correlate_matrix)
# ---------------------------------------------------------------------------

def _fleet(spark, groups, step=1000):
    """SeriesFrame with one series per (group-label, values) entry."""
    from pyspark.sql import functions as F

    from time_series_db_spark.model import SeriesFrame, series_key_expr

    rows = []
    n = 0
    for uid, vals in groups:
        rows += [(uid, i * step, float(v)) for i, v in enumerate(vals)]
        n = max(n, len(vals))
    df = (
        spark.createDataFrame(rows, "uid string, ts long, value double")
        .withColumn(
            "labels",
            F.create_map(
                F.lit("name"), F.lit("m"), F.lit("user"), F.col("uid")
            ),
        )
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    return SeriesFrame(df=df, step=step, min_ts=0, max_ts=n * step)


#: a zig-zag trend with a clearly asymmetric up/down pattern (not
#: periodic at the band width, so unrelated sketches don't collide)
_TREND = [1, 3, 7, 6, 4, 9, 12, 11, 8, 5, 10, 14, 13, 9, 6, 2,
          4, 8, 12, 15, 11, 7, 3, 1, 5, 9, 13, 16, 12, 8, 4, 2]


def test_correlate_matrix_finds_planted_clusters(spark):
    """Dense series sharing a trend (scaled/shifted per member — still
    Pearson 1) must all pair up; the sign-inverted series must pair
    NEGATIVELY with them (the u↔d inverted-band match); an unrelated
    zig-zag stays out at the |corr| threshold."""
    from time_series_db_spark.operators import stats as st

    groups = [
        (f"c{i}", [(1 + 0.2 * i) * v + 5 * i for v in _TREND])
        for i in range(4)
    ]
    groups.append(("anti", [100.0 - 2 * v for v in _TREND]))
    groups.append(("odd", [(7 * (i * i % 13)) % 17 for i in range(32)]))
    out = st.correlate_matrix(
        _fleet(spark, groups),
        coarse_ms=2000,
        band_symbols=4,
        max_bucket=16,
        min_points=5,
        min_abs_corr=0.9,
    ).collect()

    def uid(key):
        return dict(p.split(":", 1) for p in key.split(","))["user"]

    pairs = {(uid(r["key_a"]), uid(r["key_b"])): r["corr"] for r in out}
    cluster = [f"c{i}" for i in range(4)]
    for i in range(4):
        for j in range(i + 1, 4):
            key = tuple(sorted((cluster[i], cluster[j])))
            assert key in pairs and pairs[key] == pytest.approx(1.0), key
    for i in range(4):
        key = tuple(sorted((cluster[i], "anti")))
        assert key in pairs and pairs[key] == pytest.approx(-1.0), key
    assert not any("odd" in k for k in pairs)


def test_correlate_matrix_stop_band_prunes_fleet_wide_pattern(spark):
    """A pattern shared by MORE than max_bucket series is uninformative
    (the fleet-wide diurnal wave): its collision buckets must prune, so
    no pairs emit — raising the cap restores them."""
    from time_series_db_spark.operators import stats as st

    groups = [(f"w{i}", [v + i for v in _TREND]) for i in range(12)]
    sf = _fleet(spark, groups)
    pruned = st.correlate_matrix(
        sf, coarse_ms=2000, band_symbols=4, max_bucket=8,
        min_points=5, min_abs_corr=0.9,
    ).collect()
    assert pruned == []
    kept = st.correlate_matrix(
        sf, coarse_ms=2000, band_symbols=4, max_bucket=16,
        min_points=5, min_abs_corr=0.9,
    ).collect()
    assert len(kept) == 12 * 11 // 2


def test_correlate_matrix_gap_fill_sketches_sparse_series(spark):
    """Series sampled at DIFFERENT sparse offsets of the same trend
    must still become candidates: the keep-last fill gives both a
    contiguous sketch even though their raw buckets barely align."""
    from time_series_db_spark.operators import stats as st

    dense = [float(v) for v in _TREND]
    # two sparse views of the trend at disjoint-ish sample positions,
    # but still >= 5 shared timestamps for the exact stage
    s1 = [(i, v) for i, v in enumerate(dense) if i % 3 != 1]
    s2 = [(i, v) for i, v in enumerate(dense) if i % 3 != 2]
    rows = {
        "s1": {i: 2 * v + 1 for i, v in s1},
        "s2": {i: 5 * v - 3 for i, v in s2},
    }
    groups = []
    for uid, d in rows.items():
        vals = [d.get(i, float("nan")) for i in range(32)]
        groups.append((uid, vals))
    out = st.correlate_matrix(
        _fleet(spark, groups),
        coarse_ms=2000,
        band_symbols=4,
        max_bucket=16,
        min_points=5,
        min_abs_corr=0.9,
    ).collect()
    assert len(out) == 1 and out[0]["corr"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# seasonalAdjust auto (stats.detect_season + windows.seasonal_adjust_auto)
# ---------------------------------------------------------------------------

def test_detect_season_recovers_planted_period(spark):
    """A fleet of sinusoids with a planted 6-step period (different
    amplitudes/offsets/phases per series) must vote season = 6·step —
    exactly, not a multiple (the biased ACF estimator decays with lag,
    so lag 6 strictly beats 12/18/24)."""
    import math

    from time_series_db_spark.operators import stats as st

    groups = []
    for s in range(5):
        vals = [
            (3 + s) * math.sin(2 * math.pi * (i + s) / 6) + 10 * s
            for i in range(64)
        ]
        groups.append((f"p{s}", vals))
    sf = _fleet(spark, groups)
    assert st.detect_season(sf, max_lag=24) == 6 * 1000


def test_detect_season_fleet_majority_vote(spark):
    """Three 4-period series outvote two 6-period series."""
    import math

    from time_series_db_spark.operators import stats as st

    groups = [
        (f"a{s}", [math.sin(2 * math.pi * i / 4) + s for i in range(64)])
        for s in range(3)
    ] + [
        (f"b{s}", [math.sin(2 * math.pi * i / 6) + s for i in range(64)])
        for s in range(2)
    ]
    assert st.detect_season(_fleet(spark, groups), max_lag=24) == 4 * 1000


def test_detect_season_constant_fleet_raises(spark):
    from time_series_db_spark.operators import stats as st

    groups = [("c", [5.0] * 32)]
    with pytest.raises(ValueError, match="no series"):
        st.detect_season(_fleet(spark, groups), max_lag=8)


def test_seasonal_adjust_auto_zeroes_exact_periodicity(spark):
    """On an exactly periodic frame the auto residual is ~0 at every
    sample, and output='seasonal' reproduces the input."""
    import math

    from time_series_db_spark.operators import windows as win

    vals = [7 * math.sin(2 * math.pi * i / 8) + 3 for i in range(64)]
    sf = _fleet(spark, [("w", vals)])
    res = win.seasonal_adjust_auto(sf, max_lag=24).df.collect()
    # profile means carry DECIMAL(27,6) precision, so "zero" is ~1e-6
    assert res and all(abs(r["value"]) < 1e-5 for r in res)
    seas = {
        r["ts"]: r["value"]
        for r in win.seasonal_adjust_auto(
            sf, max_lag=24, output="seasonal"
        ).df.collect()
    }
    for i, v in enumerate(vals):
        assert seas[i * 1000] == pytest.approx(v)


def test_seasonal_adjust_auto_per_series_mixed_fleet(spark):
    """A mixed fleet (period-4 and period-6 series) zeroes out under
    per_series=True — each at its OWN season — while the fleet-vote
    mode necessarily leaves the minority series' residual nonzero."""
    import math

    from time_series_db_spark.operators import windows as win

    groups = [
        (f"a{s}", [5 * math.sin(2 * math.pi * i / 4) + s for i in range(48)])
        for s in range(3)
    ] + [
        ("b0", [7 * math.sin(2 * math.pi * i / 6) + 9 for i in range(48)]),
    ]
    sf = _fleet(spark, groups)
    per = win.seasonal_adjust_auto(sf, max_lag=24, per_series=True)
    assert all(abs(r["value"]) < 1e-5 for r in per.df.collect())
    voted = win.seasonal_adjust_auto(sf, max_lag=24)  # majority = 4
    b_res = [
        r["value"]
        for r in voted.df.collect()
        if r["labels"]["user"] == "b0"
    ]
    assert max(abs(v) for v in b_res) > 1.0  # minority series mis-adjusted


def test_m3ql_seasonal_adjust_auto_parses_and_explains():
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan

    plan = build_plan(parse("fetch name:x | seasonalAdjust auto"))
    assert "season=auto" in plan.dump()
    plan = build_plan(parse("fetch name:x | seasonalAdjust auto seasonal"))
    assert "output=seasonal" in plan.dump()
    plan = build_plan(
        parse("fetch name:x | seasonalAdjust auto perSeries seasonal")
    )
    assert "season=auto-per-series" in plan.dump()
    assert "output=seasonal" in plan.dump()
    with pytest.raises(M3PlanError):
        build_plan(parse("fetch name:x | seasonalAdjust auto 1h residual"))
    with pytest.raises(M3PlanError):
        build_plan(parse("fetch name:x | seasonalAdjust auto bogus"))
    with pytest.raises(M3PlanError):
        build_plan(
            parse("fetch name:x | seasonalAdjust auto perSeries 1h x")
        )


def test_cusum_survives_extreme_magnitudes(spark):
    """The exact-decimal σ must not ANSI-overflow on large samples:
    squares of 1e12-magnitude values exceed DECIMAL(27,6) but fit
    (38,6); the shift is still detected."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows as win

    vals = [1e12 + (i % 5) * 1e8 for i in range(70)]
    vals += [1.1e12 + (i % 5) * 1e8 for i in range(10)]
    sf = _series_df(spark, vals)
    out = win.cusum_changepoints(sf, threshold=3.0).df.collect()
    assert len(out) == 80
    flags = [r["value"] for r in sorted(out, key=lambda r: r["ts"])]
    assert set(flags) <= {0.0, 1.0}  # no overflow null/NaN leaked
    assert 1.0 in flags[70:]  # the late shift is detected


# ---------------------------------------------------------------------------
# leakage-safe split (pipeline/dedup.py:leakage_safe_split)
# ---------------------------------------------------------------------------

def test_leakage_safe_split_keeps_clusters_together(spark):
    """A connected near-dup chain (1-2, 2-3) plus a separate pair (7-8)
    must each land entirely in ONE split; every doc is assigned."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in
            dedup.leakage_safe_split(docs, pairs).collect()}
    assert set(rows) == set(range(10))
    assert len({rows[i]["split"] for i in (1, 2, 3)}) == 1
    assert len({rows[i]["cluster_id"] for i in (1, 2, 3)}) == 1
    assert rows[7]["split"] == rows[8]["split"]
    # unpaired docs are their own cluster
    assert rows[0]["cluster_id"] == 0 and rows[5]["cluster_id"] == 5


def test_leakage_safe_split_deterministic_and_proportioned(spark):
    """Same inputs → identical assignment; bucket fractions land near
    the requested 80/10/10 over enough singleton clusters."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    a = sorted(tuple(r) for r in dedup.leakage_safe_split(docs, pairs).collect())
    b = sorted(tuple(r) for r in dedup.leakage_safe_split(docs, pairs).collect())
    assert a == b
    from collections import Counter
    frac = Counter(split for _, _, split in a)
    assert 0.74 < frac["train"] / 1000 < 0.86
    assert 0.06 < frac["val"] / 1000 < 0.14
    assert 0.06 < frac["test"] / 1000 < 0.14


def test_leakage_safe_split_validates_weights(spark):
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="sum to 1"):
        dedup.leakage_safe_split(docs, pairs, weights={"train": 0.5})
    with pytest.raises(ValueError, match="non-negative"):
        dedup.leakage_safe_split(
            docs, pairs, weights={"train": 1.2, "test": -0.2}
        )


def test_leakage_safe_split_property_random_graphs(spark):
    """Property over random pair graphs: every connected component
    lands in exactly one split, every doc is assigned exactly once,
    and cluster ids equal the component minimum — checked against a
    pure-Python union-find reference on seeded random graphs."""
    import random

    from time_series_db_spark.pipeline import dedup

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = {r["doc_id"]: r for r in
                dedup.leakage_safe_split(docs, pairs).collect()}
        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for i in range(n):
            comp.setdefault(find(i), []).append(i)
        assert set(rows) == set(range(n)), seed
        for members in comp.values():
            mn = min(members)
            assert {rows[m]["cluster_id"] for m in members} == {mn}, seed
            assert len({rows[m]["split"] for m in members}) == 1, seed


def test_corpus_diff_property_random_edit_scripts(spark):
    """Property over random edit scripts: statuses must match the
    ground-truth edit applied (drop / edit / insert / keep)."""
    import random

    from time_series_db_spark.pipeline import dedup

    for seed in (3, 41):
        rng = random.Random(seed)
        n = 50
        base = {i: f"doc {i} body {rng.randrange(1000)}" for i in range(n)}
        expect = {}
        new = {}
        for i, text in base.items():
            action = rng.choice(["keep", "keep", "edit", "drop"])
            if action == "drop":
                expect[i] = "removed"
            elif action == "edit":
                new[i] = text + " edited"
                expect[i] = "changed"
            else:
                new[i] = text
                expect[i] = "unchanged"
        for j in range(n, n + 5):
            new[j] = f"brand new {j}"
            expect[j] = "added"
        old_df = spark.createDataFrame(
            list(base.items()), "doc_id long, text string"
        )
        new_df = spark.createDataFrame(
            list(new.items()), "doc_id long, text string"
        )
        got = {r["doc_id"]: r["status"]
               for r in dedup.corpus_diff(old_df, new_df).collect()}
        assert got == expect, seed


# ---------------------------------------------------------------------------
# corpus snapshot diff (pipeline/dedup.py:corpus_diff)
# ---------------------------------------------------------------------------

def test_distribution_psi_detects_planted_shift(spark):
    """Identical distributions score near zero; a shifted distribution
    scores far above the 0.25 'shifted' threshold; terms localize the
    movement (mass leaves low buckets, arrives in high ones)."""
    from time_series_db_spark.pipeline import text as t

    old = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    same = spark.createDataFrame(
        [(float((i + 7) % 100),) for i in range(1000)], "v double"
    )
    psi_same = sum(
        r["psi_term"] for r in t.distribution_psi(old, same, "v").collect()
    )
    assert psi_same < 0.01
    shifted = spark.createDataFrame(
        [(float(i % 100) + 50.0,) for i in range(1000)], "v double"
    )
    rows = t.distribution_psi(old, shifted, "v").collect()
    assert len(rows) == 10
    assert sum(r["psi_term"] for r in rows) > 0.25
    by_bucket = {r["bucket"]: r for r in rows}
    assert by_bucket[0]["p_new"] < by_bucket[0]["p_old"]  # mass left low
    assert by_bucket[9]["p_new"] > by_bucket[9]["p_old"]  # arrived high
    with pytest.raises(ValueError, match="n_buckets"):
        t.distribution_psi(old, shifted, "v", n_buckets=1)


def test_corpus_diff_statuses(spark):
    from time_series_db_spark.pipeline import dedup

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"]
           for r in dedup.corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


# ---------------------------------------------------------------------------
# streaming CUSUM (streaming/stateful.py:streaming_cusum)
# ---------------------------------------------------------------------------

def _stream_cusum_replay(vals, warmup, threshold, slack):
    """Python replay of the calibrate-then-monitor recurrence."""
    import math

    n = 0
    mean = m2 = sp = sn = 0.0
    out = []
    for x in vals:
        if n < warmup:
            if not math.isnan(x):
                n += 1
                d = x - mean
                mean += d / n
                m2 += d * (x - mean)
            out.append((0.0, 0.0))
            continue
        sd = math.sqrt(m2 / n) if n else 0.0
        if sd > 0 and not math.isnan(x):
            k = slack * sd
            sp = max(0.0, sp + (x - mean - k))
            sn = max(0.0, sn + (mean - k - x))
        score = max(sp, sn) / sd if sd > 0 else 0.0
        out.append((1.0 if score > threshold else 0.0, score))
    return out


def test_streaming_cusum_detects_shift_across_batches(spark, tmp_path):
    """Calibration in batch 1, a level shift arriving in batch 2: the
    state store must carry the frozen reference AND the accumulated
    statistics across the micro-batch boundary, firing mid-batch-2
    exactly where the sequential replay fires."""
    import json

    from time_series_db_spark.streaming import streaming_cusum

    base = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.2, 9.8]
    shifted = [10.8, 10.9, 10.7, 10.8, 10.9, 10.7, 10.8, 10.9]
    vals = base + shifted
    warmup, threshold, slack = 8, 4.0, 0.5

    src = tmp_path / "cusum_in"
    src.mkdir()
    out_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    schema = "series_key string, ts long, value double"

    def run_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps(dict(zip(("series_key", "ts", "value"), r)))
                for r in rows
            )
        )
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            streaming_cusum(
                stream, warmup=warmup, threshold=threshold, slack=slack
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows = [("svc|x", 1000 * i, v) for i, v in enumerate(vals)]
    run_batch("b1.json", rows[:10])   # calibration + first 2 monitored
    run_batch("b2.json", rows[10:])   # the shift accumulates here

    got = {
        r.ts: (r.flag, r.score)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = _stream_cusum_replay(vals, warmup, threshold, slack)
    assert len(got) == len(vals)
    for i, (flag, score) in enumerate(want):
        g_flag, g_score = got[1000 * i]
        assert g_flag == flag, f"sample {i}"
        assert g_score == pytest.approx(score), f"sample {i}"
    # the shift IS detected, and only after it starts
    assert any(f == 1.0 for f, _ in want[len(base):])
    assert all(f == 0.0 for f, _ in want[: len(base)])


def test_streaming_cusum_nan_inherits_running_state(spark, tmp_path):
    """A NaN sample mid-alarm must keep reporting the alarm (the batch
    operator's documented contract) and must not consume calibration
    slots during warmup."""
    import json
    import math

    from time_series_db_spark.streaming import streaming_cusum

    vals = [10.0, 10.2, 9.8, 10.1, float("nan"), 9.9, 10.0, 10.2, 9.8]
    vals += [10.9, 10.8, float("nan"), 10.9, 10.8]
    warmup, threshold, slack = 8, 3.0, 0.5

    src = tmp_path / "in"
    src.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [("s|1", 1000 * i, v) for i, v in enumerate(vals)]
    (src / "b.json").write_text(
        "\n".join(
            json.dumps(dict(zip(("series_key", "ts", "value"), r)))
            for r in rows
        )
    )
    stream = spark.readStream.schema(
        "series_key string, ts long, value double"
    ).json(str(src))
    q = (
        streaming_cusum(stream, warmup=warmup, threshold=threshold,
                        slack=slack)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.ts: (r.flag, r.score)
           for r in spark.read.parquet(out_dir).collect()}
    want = _stream_cusum_replay(vals, warmup, threshold, slack)
    assert len(got) == len(vals)
    for i, (flag, score) in enumerate(want):
        assert got[1000 * i][0] == flag, f"sample {i}"
        assert got[1000 * i][1] == pytest.approx(score), f"sample {i}"
    # warmup consumed 8 FINITE samples (the NaN at index 4 didn't count),
    # so monitoring starts at index 9; the alarm rides through the NaN
    # at index 11 once the shift has accumulated
    idx_nan2 = 11
    assert got[1000 * idx_nan2] == got[1000 * (idx_nan2 + 1)] or (
        got[1000 * idx_nan2][1] <= got[1000 * (idx_nan2 + 1)][1]
    )


def test_streaming_cusum_rejects_tiny_warmup(spark):
    from time_series_db_spark.streaming import streaming_cusum

    df = spark.createDataFrame(
        [("a", 0, 1.0)], "series_key string, ts long, value double"
    )
    with pytest.raises(ValueError, match="warmup"):
        streaming_cusum(df, warmup=1)


# ---------------------------------------------------------------------------
# frozen-tokenizer OOV rate + eval-side contamination
# ---------------------------------------------------------------------------

def test_bpe_oov_rate_counts_unseen_word_tokens(spark):
    from time_series_db_spark.pipeline import bpe

    train = spark.createDataFrame(
        [(0, "aa bb cc")], "doc_id long, text string"
    )
    model = bpe.bpe_train(train, n_merges=1)
    # aa/bb seen; zz/yy unseen; zz repeats -> counted per TOKEN not type
    apply_docs = spark.createDataFrame(
        [(1, "aa zz bb zz yy", "en"), (2, "cc cc", "fr")],
        "doc_id long, text string, lang string",
    )
    rows = {r["group"]: r for r in bpe.bpe_oov_rate(apply_docs, model).collect()}
    assert (rows["en"]["n_words"], rows["en"]["n_oov"]) == (5, 3)
    assert rows["en"]["oov_rate"] == pytest.approx(0.6)
    assert (rows["fr"]["n_words"], rows["fr"]["n_oov"]) == (2, 0)
    assert rows["fr"]["oov_rate"] == 0.0


def test_eval_overlap_is_the_transpose_of_overlap_score(spark):
    """A gram shared between corpus and eval must count in BOTH
    directions; eval items with no corpus overlap report 0."""
    from time_series_db_spark.pipeline import decontam

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "one two three four")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "five six seven eight")],
        "doc_id long, text string",
    )
    ev = {r["doc_id"]: r for r in
          decontam.eval_overlap(corpus, evals, n=4).collect()}
    assert (ev[10]["n_grams"], ev[10]["n_hits"]) == (1, 1)
    assert ev[10]["hit_rate"] == 1.0
    assert (ev[11]["n_hits"], ev[11]["hit_rate"]) == (0, 0.0)
    co = {r["doc_id"]: r for r in
          decontam.overlap_score(corpus, evals, n=4).collect()}
    assert co[0]["n_collisions"] == 1 and co[1]["n_collisions"] == 0


# ---------------------------------------------------------------------------
# ADVICE r8 follow-ups: moving_percentile dense path, source_drift dim
# ---------------------------------------------------------------------------

def test_moving_percentile_dense_path_matches_scatter(spark, monkeypatch):
    """The wide-window dense formulation (k > MOVING_SCATTER_MAX_K →
    range-frame percentile over the densified grid) must agree with
    the scatter path sample-for-sample on the same data — previously
    only the scatter path had coverage."""
    from time_series_db_spark.operators import windows as win

    vals = [float((i * 7) % 13) for i in range(40)]
    vals[5] = float("nan")
    groups = [("a", vals), ("b", [v * 2 + 1 for v in vals])]
    sf = _fleet(spark, groups)

    def run():
        out = win.moving_percentile(sf, window_ms=5000, p=95.0)
        return sorted(
            (r["series_key"], r["ts"], r["value"]) for r in out.df.collect()
        )

    scatter = run()
    monkeypatch.setattr(win, "MOVING_SCATTER_MAX_K", 1)
    dense = run()
    assert len(scatter) > 0
    assert [(k, t) for k, t, _ in scatter] == [(k, t) for k, t, _ in dense]
    for (_, _, a), (_, _, b) in zip(scatter, dense):
        assert a == pytest.approx(b, nan_ok=True)


def test_source_drift_dim_restricts_to_prefix(spark):
    """dim must actually slice the embedding (the Matryoshka-prefix
    drift check): with dim=1 only the first component matters, so a
    group differing from the corpus ONLY in component 2 shows zero L2
    drift at dim=1 and nonzero at dim=2."""
    from time_series_db_spark.pipeline import ann

    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 4.0]), (3, [1.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(0, "s1"), (1, "s1"), (2, "s2"), (3, "s2")],
        "doc_id long, source string",
    )
    d1 = {r["group"]: r["l2_to_corpus"]
          for r in ann.source_drift(embs, docs, dim=1).collect()}
    assert d1["s1"] == pytest.approx(0.0) and d1["s2"] == pytest.approx(0.0)
    d2 = {r["group"]: r["l2_to_corpus"]
          for r in ann.source_drift(embs, docs, dim=2).collect()}
    assert d2["s1"] == pytest.approx(2.0) and d2["s2"] == pytest.approx(2.0)
    with pytest.raises(ValueError, match="dim"):
        ann.source_drift(embs, docs, dim=0)


def test_correlate_matrix_values_match_brute_force_on_emitted_pairs(spark):
    """Soundness of the exact stage: every pair the celled path emits
    must carry EXACTLY the corr/n_points the quadratic all-pairs
    reference computes for it, and the emitted set must be a subset of
    the reference's threshold set (candidates only prune, never
    invent)."""
    from pyspark.sql import functions as F

    from time_series_db_spark.operators import stats as st

    # pseudo-random fleet with some genuine co-movement mixed in
    groups = []
    for s in range(8):
        base = [((i * (s + 3) + s * s) % 17) - 8.0 for i in range(32)]
        groups.append((f"r{s}", base))
    groups += [(f"c{j}", [2.0 * v + j for v in _TREND]) for j in range(3)]
    sf = _fleet(spark, groups)

    out = st.correlate_matrix(
        sf, coarse_ms=2000, band_symbols=4, max_bucket=16,
        min_points=5, min_abs_corr=0.3,
    ).collect()
    assert out, "fixture must produce at least the planted cluster"

    fin = sf.df.filter(~F.isnan("value")).select("series_key", "ts", "value")
    a = fin.select(
        F.col("series_key").alias("ka"), "ts", F.col("value").alias("va")
    )
    b = fin.select(
        F.col("series_key").alias("kb"), "ts", F.col("value").alias("vb")
    )
    brute = {
        (r["ka"], r["kb"]): (r["c"], r["n"])
        for r in (
            a.join(b, ["ts"])
            .filter(F.col("ka") < F.col("kb"))
            .groupBy("ka", "kb")
            .agg(
                F.try_divide(
                    F.covar_pop("va", "vb"),
                    F.stddev_pop("va") * F.stddev_pop("vb"),
                ).alias("c"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    }
    import math

    for r in out:
        key = (r["key_a"], r["key_b"])
        assert key in brute, key
        c, n = brute[key]
        # the operator reports (and thresholds on) the 1e-4-quantized
        # corr so the cut cannot flip on engine ulps
        qc = math.floor(c * 10000.0 + 0.5) / 10000.0
        assert r["n_points"] == n and r["corr"] == qc, key
        assert abs(qc) >= 0.3


def test_correlate_matrix_plan_has_no_cross_product(spark, sf_dir):
    """The celled matrix must never degenerate into a corpus cross
    product: candidate joins are equi joins on (band, signature), the
    exact stage equi-joins on key/(key, ts)."""
    from time_series_db_spark.catalog import QUERIES

    df = QUERIES["m3_correlate_matrix"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    ["split_leakage_safe", "decontaminate_eval_side", "corpus_diff",
     "m3_seasonal_auto_series", "text_bpe_oov_xcorpus"],
)
def test_r9_entry_plans_stay_equi_join(name, spark, sf_dir):
    """None of the round's join-shaped entries may plan a cross
    product or a per-row Python path — CC, hash-split, snapshot diff,
    vote join-back, and OOV left join are all equi joins."""
    from time_series_db_spark.catalog import QUERIES

    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "EvalPython" not in plan, name


def test_eval_overlap_guards_eval_broadcast(spark, monkeypatch):
    """Same contract as overlap_score: the eval gram set must EARN its
    broadcast hint through the bounded probe."""
    from tests.test_plan_quality import _analyzed_hints
    from time_series_db_spark.pipeline import decontam, text

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 4) for i in range(4)],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(0, "alpha beta gamma delta alpha beta gamma delta")],
        "doc_id long, text string",
    )
    default = _analyzed_hints(decontam.eval_overlap(corpus, eval_set, n=4))
    monkeypatch.setattr(text, "MAX_BROADCAST_TOKEN_ROWS", 0)
    guarded = _analyzed_hints(decontam.eval_overlap(corpus, eval_set, n=4))
    assert guarded == default - 1
