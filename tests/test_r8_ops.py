"""Round-8 hardening tests.

Covers the round-7 verdict items: BPE merge-loop lineage bounding
(checkpoint every K rounds so a 32k-merge vocabulary stays analyzable)
and the hard-negative anchor guard.
"""

from __future__ import annotations

import random

import pytest

from tests.test_r7_ops import _bpe_replay


def _pair_rich_texts(n_words=300, word_len=10, n_docs=10):
    """Deterministic corpus with enough distinct symbol pairs to sustain
    hundreds of merge rounds (verified: 200 reachable)."""
    rng = random.Random(8)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(alphabet) for _ in range(word_len))
        for _ in range(n_words)
    ]
    return [" ".join(words[i::n_docs]) for i in range(n_docs)]


def test_bpe_deep_merge_loop_bounded_plan_and_exact(spark):
    """A deep merge loop (n_merges ≫ _CHECKPOINT_EVERY) must (a) stay
    semantically identical to the exact Python replay — checkpointing
    is lineage plumbing, not an algorithm change — and (b) keep the
    word table's plan depth bounded: without truncation every merge
    stacks one F.replace and a 32k-vocab run would build a 32k-deep
    expression tree."""
    from time_series_db_spark.pipeline import bpe

    texts = _pair_rich_texts()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = 48  # crosses 3 checkpoint boundaries; cheap enough for CI
    merges, wf = bpe.bpe_train(docs, n_merges=n)
    expect, eseqs = _bpe_replay(texts, n)
    assert merges == expect
    assert {r["__w"]: r["__seq"] for r in wf.collect()} == eseqs
    # plan depth: at most one checkpoint window of replaces survives
    analyzed = wf._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("replace(") <= bpe._CHECKPOINT_EVERY


def test_bpe_200_merges_completes(spark):
    """Smoke: 200 rounds run in bounded time with constant plan depth
    (the pre-checkpoint formulation died in the analyzer long before
    this). Early stop would silently weaken the test, so assert the
    full 200 merges happened."""
    from time_series_db_spark.pipeline import bpe

    texts = _pair_rich_texts()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, wf = bpe.bpe_train(docs, n_merges=200)
    assert len(merges) == 200
    analyzed = wf._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("replace(") <= bpe._CHECKPOINT_EVERY


def test_hard_negatives_anchor_guard(spark, monkeypatch):
    """The flat miner broadcasts the full anchor set — above
    MAX_HN_ANCHORS it must refuse with a pointer at the celled path
    instead of silently shipping a multi-GB broadcast."""
    from time_series_db_spark.pipeline import ann

    rows = [(i, [float(i % 7), 1.0], i % 3) for i in range(30)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    monkeypatch.setattr(ann, "MAX_HN_ANCHORS", 29)
    with pytest.raises(ValueError, match="hard_negatives_ivf"):
        ann.hard_negatives(embs, embs, k=2)
    # at the cap it mines (the constant is read per call)
    monkeypatch.setattr(ann, "MAX_HN_ANCHORS", 30)
    assert ann.hard_negatives(embs, embs, k=2).count() > 0


def test_hard_negatives_ivf_labels_differ(spark):
    """Every mined negative must carry a label different from its
    anchor's, and ranks must be 1..k dense per anchor."""
    from time_series_db_spark.pipeline import ann

    rows = [(i, [float((i * 13) % 11), float((i * 7) % 5) + 1.0], i % 3)
            for i in range(120)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    queries = embs.filter("vec_id % 10 = 0")
    out = ann.hard_negatives_ivf(
        embs, queries, k=3, nlist=8, nprobe=2
    ).collect()
    assert out
    for r in out:
        assert r["query_label"] != r["neighbor_label"]
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def _cusum_replay(vals, threshold=5.0, slack=0.5):
    """Exact Python replay of the textbook two-sided CUSUM recurrence
    (the sequential form the closed-form window formulation must
    equal): S± reset-free detection statistics, flags vs threshold·σ."""
    import math

    finite = [v for v in vals if not math.isnan(v)]
    n = len(finite)
    mu = sum(finite) / n
    sd = math.sqrt(sum((v - mu) ** 2 for v in finite) / n)
    k = slack * sd
    sp = sn = 0.0
    flags = []
    for v in vals:
        if not math.isnan(v):
            sp = max(0.0, sp + (v - mu - k))
            sn = max(0.0, sn + (mu - k - v))
        flags.append(
            1.0 if sd > 0 and (sp > threshold * sd or sn > threshold * sd)
            else 0.0
        )
    return flags


def _series_df(spark, vals, name="cp"):
    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from pyspark.sql import functions as F

    rows = [(i * 1000, float(v)) for i, v in enumerate(vals)]
    df = (
        spark.createDataFrame(rows, "ts long, value double")
        .withColumn("labels", F.create_map(F.lit("name"), F.lit(name)))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    return SeriesFrame(
        df=df, step=1000, min_ts=0, max_ts=len(vals) * 1000
    )


def test_cusum_closed_form_matches_recurrence(spark):
    """The window closed form S = P − min(0, running-min P) must equal
    the sequential max(0, ...) recurrence sample-for-sample — on a
    series with a genuine injected level shift."""
    from time_series_db_spark.operators import windows

    vals = [10.0 + (i % 5) * 0.1 for i in range(60)]
    vals += [11.2 + (i % 5) * 0.1 for i in range(60)]  # +shift tail
    sf = _series_df(spark, vals)
    out = windows.cusum_changepoints(sf, threshold=3.0, slack=0.5)
    got = [
        r["value"]
        for r in out.df.orderBy("ts").select("value").collect()
    ]
    want = _cusum_replay(vals, threshold=3.0, slack=0.5)
    assert got == want
    assert 1.0 in got  # the shift IS detected


def test_cusum_catches_shift_zscore_misses(spark):
    """The documented reason changepoints exists next to anomalies: a
    small persistent level shift never exceeds a 3σ z-score on any
    single sample, but its cumulative evidence trips CUSUM."""
    from time_series_db_spark.operators import windows

    base = [10.0 + (i % 7) * 0.05 for i in range(100)]
    shifted = [10.6 + (i % 7) * 0.05 for i in range(100)]
    sf = _series_df(spark, base + shifted)
    z = windows.anomalies(sf, threshold=3.0)
    c = windows.cusum_changepoints(sf, threshold=3.0, slack=0.5)
    zflags = {r["value"] for r in z.df.select("value").collect()}
    cflags = [r["value"] for r in c.df.orderBy("ts").select("value").collect()]
    assert zflags == {0.0}          # z-score: silent
    assert 1.0 in cflags            # CUSUM: detected
    # (with the query-window global mean, the retrospective two-sided
    # statistic may flag either regime — both diverge from it; the
    # operator's claim is shift DETECTION, localization is the caller's
    # post-step)
    # control: the same detector on a shift-free series stays silent
    calm = windows.cusum_changepoints(
        _series_df(spark, base), threshold=3.0, slack=0.5
    )
    assert {r["value"] for r in calm.df.select("value").collect()} == {0.0}


def test_recall_at_k_counts_silent_misses(spark):
    """Queries the approximate index dropped entirely must still score
    (recall 0), and hit counting must be per-(query, neighbor)."""
    from time_series_db_spark.pipeline import ann

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        [(1, 11, 1), (1, 99, 2)],  # query 2 missing entirely
        "query_id long, neighbor_id long, rank long",
    )
    out = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in ann.recall_at_k(approx, exact, k=2).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 0, 0.0)


def test_bpe_encode_reassembles_words(spark):
    """Per-document, concatenating the encoded subword tokens in pos
    order must reproduce exactly the document's normalized words in
    order — tokenization may split, never drop, reorder, or invent."""
    from pyspark.sql import functions as F

    from time_series_db_spark.pipeline import bpe, textprep

    texts = ["low lower lowest", "newest new low", "abc cab abc abc"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    enc = bpe.bpe_encode(docs, n_merges=4)
    got = {}
    for r in enc.orderBy("doc_id", "pos").collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["token"]))
    words = {
        r["doc_id"]: [w for w in r["toks"] if w]
        for r in docs.select(
            "doc_id", textprep.tokens(F.col("text")).alias("toks")
        ).collect()
    }
    for did, toks in got.items():
        assert [p for p, _ in toks] == list(range(len(toks)))  # dense pos
        assert "".join(t for _, t in toks) == "".join(words[did])


# ---------------------------------------------------------------------------
# interpolate / ewma / correlate_target (r8 additions)
# ---------------------------------------------------------------------------


def _sparse_series_df(spark, points, name="ip", step=1000, n=None):
    """SeriesFrame from {index: value} with gaps at the missing indices."""
    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from pyspark.sql import functions as F

    rows = [(i * step, float(v)) for i, v in points.items()]
    df = (
        spark.createDataFrame(rows, "ts long, value double")
        .withColumn("labels", F.create_map(F.lit("name"), F.lit(name)))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    size = n if n is not None else max(points) + 1
    return SeriesFrame(df=df, step=step, min_ts=0, max_ts=size * step)


def test_interpolate_fills_interior_gaps_linearly(spark):
    """Interior gaps draw the straight line between present neighbors;
    leading/trailing gaps have no second endpoint and stay absent."""
    from time_series_db_spark.operators import windows

    sf = _sparse_series_df(spark, {1: 10.0, 4: 16.0, 6: 20.0}, n=8)
    out = {
        r["ts"] // 1000: r["value"]
        for r in windows.interpolate(sf).df.collect()
    }
    assert out == {1: 10.0, 2: 12.0, 3: 14.0, 4: 16.0, 5: 18.0, 6: 20.0}


def test_interpolate_limit_bounds_gap_runs(spark):
    """A gap run longer than ``limit`` steps stays a gap — papering a
    long outage over with a ramp is exactly what limit exists to stop."""
    from time_series_db_spark.operators import windows

    sf = _sparse_series_df(spark, {1: 10.0, 4: 16.0, 6: 20.0}, n=8)
    out = {
        r["ts"] // 1000: r["value"]
        for r in windows.interpolate(sf, limit=1).df.collect()
    }
    assert out == {1: 10.0, 4: 16.0, 5: 18.0, 6: 20.0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        windows.interpolate(sf, limit=0)


def test_ewma_matches_sequential_recurrence(spark):
    """The collect_list + left-fold formulation must equal the plain
    Python recurrence bit-for-bit: seed = oldest window sample, then
    s = (1-a)*s + a*x ascending."""
    import random

    from time_series_db_spark.operators import windows

    rng = random.Random(11)
    vals = [rng.uniform(-50, 50) for _ in range(64)]
    sf = _sparse_series_df(spark, dict(enumerate(vals)))
    n = 10
    a = 2.0 / (n + 1.0)
    got = [
        r["value"] for r in windows.ewma(sf, n).df.orderBy("ts").collect()
    ]
    want = []
    for t in range(len(vals)):
        wnd = vals[max(0, t - n + 1): t + 1]
        s = wnd[0]
        for x in wnd[1:]:
            s = (1.0 - a) * s + a * x
        want.append(s)
    assert got == want  # bit-exact, no tolerance


def test_ewma_rejects_bad_params(spark):
    import pytest as _pytest

    from time_series_db_spark.operators import windows

    sf = _sparse_series_df(spark, {0: 1.0})
    with _pytest.raises(ValueError):
        windows.ewma(sf, 0)
    with _pytest.raises(ValueError):
        windows.ewma(sf, 5, alpha=1.5)


def test_correlate_target_ranks_comovement(spark):
    """Perfectly correlated, anti-correlated, and constant companion
    series against a target: corr +1 / −1 / dropped (undefined), and
    the target correlates with itself at exactly 1."""
    from pyspark.sql import functions as F

    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from time_series_db_spark.operators import stats as stats_ops

    rows = []
    for i in range(20):
        x = float(i % 7) + 0.5 * (i % 3)
        rows += [
            (i * 1000, "t", x),
            (i * 1000, "pos", 3.0 * x + 2.0),
            (i * 1000, "neg", -2.0 * x + 1.0),
            (i * 1000, "flat", 5.0),
        ]
    df = (
        spark.createDataFrame(rows, "ts long, name string, value double")
        .withColumn("labels", F.create_map(F.lit("name"), F.col("name")))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    sf = SeriesFrame(df=df, step=1000, min_ts=0, max_ts=20_000)
    out = {
        r["labels"]["name"]: (round(r["corr"], 9), r["n_points"])
        for r in stats_ops.correlate_target(sf, {"name": "t"}).collect()
    }
    assert out["t"] == (1.0, 20)
    assert out["pos"] == (1.0, 20)
    assert out["neg"] == (-1.0, 20)
    assert "flat" not in out  # zero variance: correlation undefined, drops
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stats_ops.correlate_target(sf, {})


def test_tfidf_terms_ranks_distinctive_words(spark):
    """A word unique to one doc must outscore corpus-wide words there;
    rank is dense 1..k per doc with term tiebreaks."""
    from time_series_db_spark.pipeline import text

    docs = spark.createDataFrame(
        [
            (0, "common common common zebra zebra quark"),
            (1, "common common plasma plasma plasma"),
            (2, "common filler filler"),
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in text.tfidf_terms(docs, k=2).collect():
        out.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    for d in out:
        out[d].sort()
    # distinctive terms (df=1) beat equal-or-lower-tf 'common' (df=3 →
    # idf floor); doc 0's common keeps rank 2 on raw tf=3 > quark's 1.69
    assert out[0] == [(1, "zebra"), (2, "common")]
    assert out[1] == [(1, "plasma"), (2, "common")]
    assert out[2] == [(1, "filler"), (2, "common")]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.tfidf_terms(docs, k=0)


def test_source_drift_centroid_geometry(spark):
    """Two orthogonal sources: each centroid sits at 45° to the corpus
    mean (cos = 1/√2) and √0.5 away from it; counts per source ride
    the same aggregation."""
    import math

    from time_series_db_spark.pipeline import ann

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b")],
        "doc_id long, source string",
    )
    out = {
        r["group"]: r
        for r in ann.source_drift(emb, docs, dim=2).collect()
    }
    for g in ("a", "b"):
        assert out[g]["n_docs"] == 2
        assert abs(out[g]["cos_to_corpus"] - 1 / math.sqrt(2)) < 1e-12
        assert abs(out[g]["l2_to_corpus"] - math.sqrt(0.5)) < 1e-12


def test_soft_dedup_weights_conserve_cluster_mass(spark):
    """1/|cluster| weighting: a 3-doc chain weighs 1/3 each (total mass
    1 — same expected contribution as one unique doc); unpaired docs
    weigh 1."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_size"], r["weight"])
        for r in dedup.soft_dedup_weights(docs, pairs).collect()
    }
    assert out == {
        0: (1, 1.0),
        1: (3, 1.0 / 3.0),
        2: (3, 1.0 / 3.0),
        3: (3, 1.0 / 3.0),
        4: (1, 1.0),
    }


def test_rrf_fuse_merges_and_ranks(spark):
    """RRF: doc in both lists outranks single-list docs; missing-list
    docs still score with their one term; params validated."""
    from time_series_db_spark.pipeline import retrieval

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank long"
    )
    den = spark.createDataFrame(
        [(11, 1), (99, 2)], "doc_id long, rank long"
    )
    out = {
        r["doc_id"]: (r["rank"], r["n_lists"], r["rrf_score"])
        for r in retrieval.rrf_fuse([lex, den], k=4).collect()
    }
    assert out[11][0] == 1 and out[11][1] == 2        # in both → top
    assert out[11][2] == 1.0 / 62 + 1.0 / 61
    assert out[10] == (2, 1, 1.0 / 61)                # bm25-only
    assert out[99][1] == 1                            # dense-only
    import pytest as _pytest

    with _pytest.raises(ValueError):
        retrieval.rrf_fuse([], k=4)
    with _pytest.raises(ValueError):
        retrieval.rrf_fuse([lex], k=0)


def test_fleet_outlier_scores_mad_geometry(spark):
    """A fleet of near-identical series plus one hot series: the hot
    one scores ≫ 3 robust-z, the pack stays near 0, and the score is
    signed (a cold series scores negative)."""
    from pyspark.sql import functions as F

    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from time_series_db_spark.operators import stats as stats_ops

    rows = []
    for s in range(9):
        for t in range(10):
            rows.append((t * 1000, f"s{s}", 10.0 + s * 0.1))
    for t in range(10):
        rows.append((t * 1000, "hot", 50.0))
        rows.append((t * 1000, "cold", -30.0))
    df = (
        spark.createDataFrame(rows, "ts long, name string, value double")
        .withColumn("labels", F.create_map(F.lit("name"), F.col("name")))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    sf = SeriesFrame(df=df, step=1000, min_ts=0, max_ts=10_000)
    out = {
        r["labels"]["name"]: r["robust_z"]
        for r in stats_ops.fleet_outlier_scores(sf).collect()
    }
    assert out["hot"] > 3.0
    assert out["cold"] < -3.0
    for s in range(9):
        assert abs(out[f"s{s}"]) < 3.0


def test_correlate_target_rejects_loose_matcher(spark):
    """A matcher selecting >1 series must refuse up front: the join
    would silently multi-match every timestamp and corrupt the
    moments, and the broadcast would no longer be one-series-bounded."""
    from pyspark.sql import functions as F

    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from time_series_db_spark.operators import stats as stats_ops

    rows = [
        (t * 1000, n, float(t)) for t in range(5) for n in ("a", "b")
    ]
    df = (
        spark.createDataFrame(rows, "ts long, name string, value double")
        .withColumn(
            "labels",
            F.create_map(
                F.lit("kind"), F.lit("x"), F.lit("name"), F.col("name")
            ),
        )
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", series_key_expr())
        .select("series_key", "labels", "alias", "ts", "value")
    )
    sf = SeriesFrame(df=df, step=1000, min_ts=0, max_ts=5000)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="selects 2 series"):
        stats_ops.correlate_target(sf, {"kind": "x"})
    with _pytest.raises(ValueError, match="selects 0 series"):
        stats_ops.correlate_target(sf, {"name": "zzz"})


def test_ewma_window_cap(spark):
    """An unbounded window knob multiplies per-row memory by n — the
    operator and the language path must both refuse past the cap,
    typed per layer."""
    import pytest as _pytest

    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan
    from time_series_db_spark.operators import windows

    sf = _sparse_series_df(spark, {0: 1.0})
    with _pytest.raises(ValueError, match="MAX_EWMA_WINDOW"):
        windows.ewma(sf, windows.MAX_EWMA_WINDOW + 1)
    with _pytest.raises(M3PlanError):
        build_plan(
            parse(f"fetch name:x | ewma {windows.MAX_EWMA_WINDOW + 1}")
        )


def test_mmr_rerank_diversifies(spark):
    """A near-duplicate of the top hit must lose its rank-2 slot to a
    diverse document — the defining MMR behavior a plain relevance
    sort cannot produce."""
    from time_series_db_spark.pipeline import retrieval

    short = spark.createDataFrame(
        [(0, 1.0), (1, 0.95), (2, 0.9), (3, 0.5)],
        "doc_id long, rel double",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # duplicate of doc 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = retrieval.mmr_rerank(short, embs, k=3, lam=0.5).collect()
    picks = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert picks == [0, 2, 3]   # near-dup doc 1 displaced
    import pytest as _pytest

    with _pytest.raises(ValueError):
        retrieval.mmr_rerank(short, embs, k=0)
    with _pytest.raises(ValueError):
        retrieval.mmr_rerank(short, embs, k=2, lam=1.5)


def test_autocorrelation_finds_the_period(spark):
    """A pure period-7 signal must put its ACF maximum at lag 7 (≈1.0,
    the dominant-peak contract seasonalAdjust's season detection relies
    on); a constant series yields NULL acf; the lag knob is bounded."""
    from time_series_db_spark.operators import stats as stats_ops

    vals = [float((i % 7) * (1 + (i % 7))) for i in range(70)]
    sf = _series_df(spark, vals, name="per")
    out = {
        r["lag"]: r["acf"]
        for r in stats_ops.autocorrelation(sf, max_lag=10).collect()
    }
    # biased estimator: a perfect period-7 signal scores (n−7)/n at
    # lag 7 (63/70 = 0.9) — the taper that keeps long-lag noise down
    assert abs(out[7] - (70 - 7) / 70) < 1e-9
    assert max(out, key=lambda l: out[l]) == 7
    assert all(out[l] < out[7] for l in out if l != 7)

    flat = stats_ops.autocorrelation(
        _series_df(spark, [5.0] * 30, name="flat"), max_lag=3
    ).collect()
    assert flat and all(r["acf"] is None for r in flat)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="MAX_ACF_LAG|1\\.\\."):
        stats_ops.autocorrelation(sf, max_lag=0)
    with _pytest.raises(ValueError):
        stats_ops.autocorrelation(sf, max_lag=stats_ops.MAX_ACF_LAG + 1)


def test_bpe_fertility_exact_ratio_of_sums(spark):
    """Fertility must be Σsubwords / Σwords per language (NOT an
    average of per-doc ratios — short docs would dominate), verified
    against an exact Python replay of the trained segmentation."""
    from time_series_db_spark.pipeline import bpe

    texts = ["low lower lowest", "newest new low", "lowest newest lower"]
    langs = ["en", "en", "de"]
    docs = spark.createDataFrame(
        [(i, t, l) for i, (t, l) in enumerate(zip(texts, langs))],
        "doc_id long, text string, lang string",
    )
    n = 4
    out = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_subwords"],
                    r["fertility"])
        for r in bpe.bpe_fertility(docs, n_merges=n).collect()
    }
    _, eseqs = _bpe_replay(texts, n)
    seg = {w: len(s.split()) for w, s in eseqs.items()}
    import collections
    want = collections.defaultdict(lambda: [0, 0, 0])
    for i, (t, l) in enumerate(zip(texts, langs)):
        ws = t.split()
        want[l][0] += 1
        want[l][1] += len(ws)
        want[l][2] += sum(seg[w] for w in ws)
    for l, (nd, nw, ns) in want.items():
        assert out[l] == (nd, nw, ns, ns / nw)


def test_moving_percentile_boundary_identities(spark):
    """p=0 must equal moving min, p=100 moving max, p=50 moving median —
    the three existing formulations pin the new arbitrary-φ path at its
    boundaries; the language path (`movingPercentile 3h 95`) must build
    the same operator with the widened-scan truncation applied."""
    from time_series_db_spark.operators import windows

    vals = [float((i * 37) % 23) for i in range(40)]
    sf = _series_df(spark, vals)

    def rows(out):
        return sorted(
            (r["ts"], round(r["value"], 9)) for r in out.df.collect()
        )

    w = 5000
    assert rows(windows.moving_percentile(sf, w, 0.0)) == rows(
        windows.moving(sf, w, "min")
    )
    assert rows(windows.moving_percentile(sf, w, 100.0)) == rows(
        windows.moving(sf, w, "max")
    )
    assert rows(windows.moving_percentile(sf, w, 50.0)) == rows(
        windows.moving(sf, w, "median")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        windows.moving_percentile(sf, w, 101.0)
