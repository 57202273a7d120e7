"""Round-10 operator tests: advisory fixes (CUSUM σ cancellation,
streaming chunk order, leakage-split weight quantization,
correlate_matrix threshold quantization) and the round's new ops."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# CUSUM σ: anchored decimal deviations (operators/windows.py)
# ---------------------------------------------------------------------------


def test_cusum_large_mean_small_spread(spark):
    """The r9 raw-moment σ (√(Σx²/n − μ²)) cancels catastrophically at
    values ~1e9 with σ under ~25 — variance fell below the double
    epsilon of μ², clamped to 0, and the shift flags silently
    vanished.  The anchored form must detect the planted +30 shift and
    still equal the sequential recurrence sample-for-sample."""
    from tests.test_r8_ops import _cusum_replay, _series_df
    from time_series_db_spark.operators import windows

    vals = [1e9 + (i % 5) * 2.0 for i in range(70)]
    vals += [1e9 + 30.0 + (i % 5) * 2.0 for i in range(20)]
    sf = _series_df(spark, vals)
    out = windows.cusum_changepoints(sf, threshold=3.0, slack=0.5)
    got = [
        r["value"] for r in out.df.orderBy("ts").select("value").collect()
    ]
    want = _cusum_replay(vals, threshold=3.0, slack=0.5)
    assert got == want
    assert 1.0 in got[70:]  # the shift IS detected


def test_cusum_tiny_magnitude_series(spark):
    """The r9 form also zeroed tiny-magnitude series: squares below
    5e-7 quantized to 0 at DECIMAL(…,6), so σ = 0 silenced every flag.
    Deviations quantize at 1e-12, keeping signal down to σ ≈ 1e-6."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    base = [1e-4 + (i % 5) * 1e-5 for i in range(70)]
    shifted = [3e-4 + (i % 5) * 1e-5 for i in range(20)]
    out = windows.cusum_changepoints(
        _series_df(spark, base + shifted), threshold=3.0, slack=0.5
    )
    flags = [
        r["value"] for r in out.df.orderBy("ts").select("value").collect()
    ]
    assert set(flags) <= {0.0, 1.0}
    assert 1.0 in flags[70:]  # shift detected despite ~1e-5 spread
    # control: the shift-free series stays silent
    calm = windows.cusum_changepoints(
        _series_df(spark, base), threshold=3.0, slack=0.5
    )
    assert {r["value"] for r in calm.df.select("value").collect()} == {0.0}


# ---------------------------------------------------------------------------
# leakage_safe_split: cumulative weight quantization (pipeline/dedup.py)
# ---------------------------------------------------------------------------


def test_leakage_safe_split_accepts_third_weights(spark):
    """Per-weight rounding rejected valid weights like {1/3,1/3,1/3}
    (independent roundings sum to 9999); cumulative-cut quantization
    must accept them and assign every document to one of the splits."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    thirds = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    out = dedup.leakage_safe_split(docs, pairs, weights=thirds).collect()
    assert len(out) == 60
    splits = {r["split"] for r in out}
    assert splits <= {"a", "b", "c"} and len(splits) > 1
    # default weights keep their historical cut points (8000/9000/10000)
    dflt = dedup.leakage_safe_split(docs, pairs).collect()
    assert {r["split"] for r in dflt} <= {"train", "val", "test"}
    with pytest.raises(ValueError, match="sum to 1"):
        dedup.leakage_safe_split(docs, pairs, weights={"a": 0.5, "b": 0.4})


# ---------------------------------------------------------------------------
# MinHash fit/apply split (pipeline/dedup.py:minhash_fit)
# ---------------------------------------------------------------------------

_XC_TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog tonight"),
    (1, "pack my box with five dozen fresh liquor jugs today"),
    (2, "sphinx of black quartz judge my vow sphinx of quartz"),
    # one appended word: 8 of 9 word-3-shingles shared, J = 8/9 >= 0.8
    (3, "the quick brown fox jumps over the lazy dog tonight again"),
    (4, "pack my box with five dozen fresh liquor jugs  today"),  # ~dup of 1
    (5, "completely unrelated sentence about training data decks"),
]


def test_cross_corpus_dedup_model_matches_inline_fit(spark):
    """Dedup against a pre-built minhash_fit table must flag EXACTLY
    the rows the inline reference= path flags — the split changes
    which side pays the signature scan, not the output."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(_XC_TEXTS, "doc_id long, text string")
    ref = docs.filter("doc_id < 3")
    inc = docs.filter("doc_id >= 3")
    inline = sorted(
        tuple(r) for r in dedup.cross_corpus_dedup(inc, ref, threshold=0.8)
        .collect()
    )
    model = dedup.minhash_fit(ref)
    split = sorted(
        tuple(r)
        for r in dedup.cross_corpus_dedup(inc, model=model, threshold=0.8)
        .collect()
    )
    assert inline == split
    assert inline, "fixture must flag the planted near-dups"
    flagged = {r[0] for r in inline}
    assert flagged == {3, 4}  # 5 has no reference near-dup


def test_cross_corpus_dedup_model_never_recomputes_reference(
    spark, monkeypatch
):
    """The model= path must compute signatures for the INCOMING side
    only — the reference scan happened once, at fit time."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(_XC_TEXTS, "doc_id long, text string")
    model = dedup.minhash_fit(docs.filter("doc_id < 3"))

    calls = []
    real = dedup.minhash_signatures

    def counting(df, *a, **kw):
        calls.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(dedup, "minhash_signatures", counting)
    inc = docs.filter("doc_id >= 3")
    out = dedup.cross_corpus_dedup(inc, model=model, threshold=0.8).collect()
    assert len(calls) == 1, "model= path must hash the incoming side only"
    assert out
    with pytest.raises(ValueError, match="exactly one"):
        dedup.cross_corpus_dedup(inc)
    with pytest.raises(ValueError, match="exactly one"):
        dedup.cross_corpus_dedup(inc, docs, model=model)


def test_minhash_fit_survives_parquet_roundtrip(spark, tmp_path):
    """The documented 100 TB flow: minhash_fit's table is WRITTEN to
    parquet and read back per snapshot — the round-tripped model must
    flag exactly what the live plan flags (integer arrays survive the
    parquet round trip losslessly)."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(_XC_TEXTS, "doc_id long, text string")
    ref = docs.filter("doc_id < 3")
    inc = docs.filter("doc_id >= 3")
    live = dedup.minhash_fit(ref)
    path = str(tmp_path / "minhash_model")
    live.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    out_live = sorted(
        tuple(r)
        for r in dedup.cross_corpus_dedup(inc, model=live, threshold=0.8)
        .collect()
    )
    out_stored = sorted(
        tuple(r)
        for r in dedup.cross_corpus_dedup(inc, model=stored, threshold=0.8)
        .collect()
    )
    assert out_live == out_stored and out_live


# ---------------------------------------------------------------------------
# xxhash64 production hash path parity (pipeline/textprep.py:hash64)
# ---------------------------------------------------------------------------

_HASH_CORPUS = _XC_TEXTS + [
    (6, "sphinx of black quartz judge my vow sphinx of quartz again"),
    (7, "a totally different document about sequence packing budgets"),
    (8, "a totally different document about sequence packing budgets"),
]


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_dedup_recall_parity_across_hash_fns(spark, hash_fn):
    """The production hash path (xxhash64, JVM-native) must flag the
    SAME planted near-dup pairs as the oracle-portable md5 path — the
    LSH math is hash-agnostic, and the exact-Jaccard verify counts set
    intersections whose size does not depend on the hash values."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(_HASH_CORPUS, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.8, hash_fn=hash_fn
        ).collect()
    }
    # planted: 3 appends one word to 0, 6 appends one word to 2,
    # 7 == 8 exactly; 1 vs 4 differ only in collapsed whitespace
    assert pairs == {(0, 3), (2, 6), (7, 8), (1, 4)}, hash_fn


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_decontaminate_flag_parity_across_hash_fns(spark, hash_fn):
    """Benchmark decontamination flags the same documents under either
    hash: membership of an 8-gram in the eval set is a string-set fact
    the hash only encodes."""
    from time_series_db_spark.pipeline import decontam

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, "one two three four five six seven eight nine ten eleven"),
            (2, "nothing here overlaps the held out benchmark suite at all"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "beta gamma delta epsilon zeta eta theta iota"),
         (101, "two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.decontaminate(
            corpus, evals, n=8, min_hits=1, hash_fn=hash_fn
        ).collect()
    }
    assert flags == {0: True, 1: True, 2: False}, hash_fn


# ---------------------------------------------------------------------------
# categorical PSI (pipeline/text.py:categorical_psi)
# ---------------------------------------------------------------------------


def test_categorical_psi_flags_planted_mixture_shift(spark):
    """A planted language-mixture shift (en 80→40%, zh 0→40%) must
    dominate the per-category terms; a stable category contributes a
    near-zero term; the vanished/appeared categories still get rows."""
    import math

    from time_series_db_spark.pipeline import text

    old = spark.createDataFrame(
        [(i, "en" if i < 80 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    new = spark.createDataFrame(
        [(i, "en" if i < 40 else ("zh" if i < 80 else "de"))
         for i in range(100)],
        "doc_id long, lang string",
    )
    rows = {r["category"]: r for r in
            text.categorical_psi(old, new, "lang").collect()}
    assert set(rows) == {"en", "de", "zh"}
    # exact smoothed-share replay: B = 3 categories, N = 100 each side
    def share(c):
        return (c + 0.5) / (100 + 1.5)

    for cat, n_old, n_new in [("en", 80, 40), ("de", 20, 20), ("zh", 0, 40)]:
        r = rows[cat]
        assert (r["n_old"], r["n_new"]) == (n_old, n_new)
        po, pn = share(n_old), share(n_new)
        assert r["p_old"] == pytest.approx(po) and r["p_new"] == pytest.approx(pn)
        assert r["psi_term"] == pytest.approx((pn - po) * math.log(pn / po))
    assert rows["zh"]["psi_term"] > 0.5          # appeared: big term
    assert abs(rows["de"]["psi_term"]) < 1e-6    # stable: ~zero
    total = sum(r["psi_term"] for r in rows.values())
    assert total > 0.25  # "shifted" by the standard PSI rubric


def test_seasonal_decompose_textbook_on_planted_series(spark):
    """Const + seasonal pattern: interior trend == the constant
    exactly, seasonal == the planted pattern, residual ~ 0; edge rows
    (short centered window) carry NULL trend/residual.  Both parities
    of P take their textbook MA (P odd: plain P-MA; P even: 2xP MA)."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    for p, pat in [(4, [3.0, -1.0, -2.0, 0.0]), (3, [2.0, -1.0, -1.0])]:
        vals = [10.0 + pat[i % p] for i in range(24)]
        sf = _series_df(spark, vals)
        out = windows.seasonal_decompose(sf, season_ms=p * 1000).collect()
        assert len(out) == 24
        interior = [r for r in out if r["trend"] is not None]
        assert len(interior) == 24 - 2 * (p // 2)  # p//2 steps lost per edge
        for r in interior:
            assert r["trend"] == pytest.approx(10.0, abs=1e-5)
            assert r["seasonal"] == pytest.approx(
                pat[(r["ts"] // 1000) % p], abs=2e-5
            )
            assert r["residual"] == pytest.approx(0.0, abs=2e-5)
            # reconstruction identity on the interior
            assert r["trend"] + r["seasonal"] + r["residual"] == (
                pytest.approx(r["value"], abs=5e-5)
            )
        for r in out:
            assert (r["trend"] is None) == (r["residual"] is None)


def test_seasonal_decompose_agrees_with_seasonal_adjust_on_flat_trend(
    spark, sf_dir
):
    """The M3QL golden the decomposition must honor: on a flat-trend
    periodic fixture (mockFetchPeriodic — pure sine), `seasonalAdjust
    auto`'s residual and the classical decomposition's residual are
    the same thing (both ~0, equal within the decimal-profile
    tolerance) on every interior sample, at the SAME auto-detected
    season."""
    from time_series_db_spark.catalog_m3ql import run_m3ql
    from time_series_db_spark.operators import windows

    sa = {
        r["ts"]: r["value"]
        for r in run_m3ql(
            spark, sf_dir,
            "mockFetchPeriodic 10 6h name:wave | seasonalAdjust auto",
        ).df.collect()
    }
    mock = run_m3ql(spark, sf_dir, "mockFetchPeriodic 10 6h name:wave")
    dec = windows.seasonal_decompose(mock).collect()
    assert sa and dec
    interior = [r for r in dec if r["residual"] is not None]
    assert interior, "fixture must have interior samples"
    for r in interior:
        assert r["ts"] in sa
        assert r["residual"] == pytest.approx(sa[r["ts"]], abs=5e-5), r["ts"]
    # the detected season is the planted 6h: the seasonal profile
    # repeats with period 6h across the interior
    prof = {}
    for r in interior:
        prof.setdefault(r["ts"] % 21_600_000, set()).add(
            round(r["seasonal"], 4)
        )
    assert prof and all(len(v) == 1 for v in prof.values())


def _ll_fleet(spark, groups, step=1000):
    """SeriesFrame with one series per (user-label, values) entry."""
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


#: aperiodic zig-zag: autocorrelation at every non-zero lag is well
#: below 1, so a shifted copy's best alignment is unambiguous
_LL_G = [1.0, 3.0, 7.0, 2.0, 9.0, 4.0, 11.0, 5.0, 13.0, 6.0, 15.0,
         8.0, 12.0, 3.0, 10.0, 1.0, 14.0, 7.0, 16.0, 2.0, 8.0, 5.0,
         11.0, 9.0]


def test_lead_lag_recovers_planted_lags(spark):
    from time_series_db_spark.operators.stats import lead_lag_target

    follower = [0.5, 0.5] + _LL_G[:-2]   # f(t) = g(t - 2·step)
    leader = _LL_G[1:] + [0.5]           # l(t) = g(t + 1·step)
    sf = _ll_fleet(
        spark,
        [("tgt", _LL_G), ("follow", follower), ("lead", leader)],
    )
    out = lead_lag_target(
        sf, {"user": "tgt"}, max_lag=3, min_abs_corr=0.9
    )
    got = {r["labels"]["user"]: r for r in out.collect()}
    assert got["tgt"]["lag_buckets"] == 0
    assert got["tgt"]["corr"] == pytest.approx(1.0)
    assert got["follow"]["lag_buckets"] == 2
    assert got["follow"]["lag_ms"] == 2000
    assert got["follow"]["corr"] == pytest.approx(1.0)
    assert got["lead"]["lag_buckets"] == -1
    assert got["lead"]["corr"] == pytest.approx(1.0)


def test_lead_lag_tie_prefers_zero_lag(spark):
    """A period-4 target correlates 1.0 with itself at lags −4/0/+4;
    the quantized tie must break to the no-lag explanation."""
    from time_series_db_spark.operators.stats import lead_lag_target

    wave = [1.0, 5.0, 2.0, 8.0] * 6
    sf = _ll_fleet(spark, [("tgt", wave)])
    out = lead_lag_target(sf, {"user": "tgt"}, max_lag=4).collect()
    assert len(out) == 1
    assert out[0]["lag_buckets"] == 0
    assert out[0]["corr"] == pytest.approx(1.0)


def test_lead_lag_requires_unique_target(spark):
    from time_series_db_spark.operators.stats import lead_lag_target

    sf = _ll_fleet(spark, [("a", _LL_G), ("b", _LL_G)])
    with pytest.raises(ValueError, match="selects 2 series"):
        lead_lag_target(sf, {"name": "m"}).collect()
    with pytest.raises(ValueError, match="max_lag"):
        lead_lag_target(sf, {"user": "a"}, max_lag=0)


@pytest.mark.parametrize(
    "name",
    ["dedup_xcorpus_prebuilt", "text_categorical_psi",
     "m3_seasonal_decompose", "pipeline_curate_incremental",
     "m3_lead_lag", "text_quality_classifier",
     "dedup_boilerplate_spans", "dedup_xcorpus_update",
     "text_classifier_calibration", "search_eval_metrics",
     "m3_rolling_corr", "mm_ahash_neardup", "ann_ivf_prebuilt",
     "text_ngram_novelty", "m3_forecast_backtest",
     "sample_token_budget", "ann_ivf_update",
     "events_funnel_latency"],
)
def test_r10_entry_plans_stay_equi_join(name, spark, sf_dir):
    """None of the round's entries may plan a cross product (beyond
    broadcast 1-row totals) or a per-row Python path: the prebuilt
    dedup joins on (band, bucket), categorical PSI full-outer-joins on
    category, the decomposition is pure windows, and incremental
    curate joins on doc_id."""
    from time_series_db_spark.catalog import QUERIES

    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # exempt BNLJs that are bounded by construction: categorical PSI's
    # 1-row totals broadcast, and the ranking eval's brute-force scorer
    # (ann.cosine_topk's documented query-broadcast flat baseline)
    # (ann_ivf_prebuilt's BNLJ is kmeans' documented broadcast-centroid
    # assignment of the BOUNDED query batch — nlist-row inner side)
    if name not in ("text_categorical_psi", "search_eval_metrics",
                    "ann_ivf_prebuilt", "ann_ivf_update"):
        assert "BroadcastNestedLoopJoin" not in plan


def test_seasonal_decompose_m3ql_stage(spark, sf_dir):
    """`seasonalDecompose [auto|season [bucket]] [component]` through
    the full language path: the sliced component equals the operator's
    column with undefined rows ABSENT (the engine-wide null contract),
    and malformed forms raise plan errors."""
    from time_series_db_spark.catalog_m3ql import run_m3ql
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan
    from time_series_db_spark.operators import windows
    from time_series_db_spark.sources import fetch_events

    plan = build_plan(parse("fetch name:x | seasonalDecompose auto trend"))
    assert "SEASONAL_DECOMPOSE(season=auto" in plan.dump()
    assert "component=trend" in plan.dump()
    for bad in [
        "fetch name:x | seasonalDecompose auto 1h residual",
        "fetch name:x | seasonalDecompose 1h 1d",
        "fetch name:x | seasonalDecompose bogus",
        "fetch name:x | seasonalDecompose 1d 1h extra residual",
    ]:
        with pytest.raises(M3PlanError):
            build_plan(parse(bad))

    dec = windows.seasonal_decompose(
        fetch_events(spark, sf_dir), max_lag=48
    ).collect()
    for comp in ("trend", "residual"):
        got = sorted(
            (r["series_key"], r["ts"], round(r["value"], 9))
            for r in run_m3ql(
                spark, sf_dir, f"fetch name:* | seasonalDecompose auto {comp}"
            ).df.collect()
        )
        want = sorted(
            (r["series_key"], r["ts"], round(r[comp], 9))
            for r in dec if r[comp] is not None
        )
        assert got == want and got, comp


def test_categorical_psi_null_category_is_its_own_bucket(spark):
    from time_series_db_spark.pipeline import text

    old = spark.createDataFrame(
        [(1, "en"), (2, None)], "doc_id long, lang string"
    )
    new = spark.createDataFrame(
        [(3, None), (4, None)], "doc_id long, lang string"
    )
    rows = {r["category"]: (r["n_old"], r["n_new"])
            for r in text.categorical_psi(old, new, "lang").collect()}
    assert rows == {"en": (1, 0), "<null>": (1, 2)}


# ---------------------------------------------------------------------------
# incremental curation (pipeline/curate.py)
# ---------------------------------------------------------------------------

_SNAP_OLD = [
    (0, "the quick brown fox jumps over the lazy dog and then rests"),
    (1, "pack my box with five dozen fresh liquor jugs for the party"),
    (2, "this document will be removed from the next snapshot version"),
    (3, "an old stale draft of the fourth document before its rewrite"),
    (4, "the quick brown fox jumps over the lazy dog and then rests"),
]
_SNAP_NEW = [
    (0, "the quick brown fox jumps over the lazy dog and then rests"),
    (1, "pack my box with five dozen fresh liquor jugs for the party"),
    # 2 removed
    (3, "the rewritten fourth document with a fresh body of real text"),
    (4, "the quick brown fox jumps over the lazy dog and then rests"),
    (5, "a brand new fifth document that only the new snapshot holds"),
]


def test_curate_incremental_equals_full_rerun(spark):
    """On a planted snapshot pair with an added, a changed, a removed
    and an exact-duplicate document, the incremental path (fresh
    features for the delta + carried features for unchanged) must
    produce EXACTLY the full rerun's packing table."""
    from time_series_db_spark.pipeline import curate

    old = spark.createDataFrame(_SNAP_OLD, "doc_id long, text string")
    new = spark.createDataFrame(_SNAP_NEW, "doc_id long, text string")
    full = sorted(
        tuple(r)
        for r in curate.curate_from_features(
            curate.curate_features(new)
        ).collect()
    )
    inc = sorted(
        tuple(r)
        for r in curate.curate_incremental(
            old, new, curate.curate_features(old)
        ).collect()
    )
    assert inc == full
    ids = {r[0] for r in inc}
    assert 2 not in ids          # removed doc is gone
    assert 4 not in ids          # exact dup of 0: min-id survivor wins
    assert {0, 1, 3, 5} >= ids and 5 in ids and 3 in ids


def test_curate_incremental_scans_text_only_for_delta(spark, monkeypatch):
    """The incremental path's ONLY text scan is the added+changed
    slice: curate_features must be invoked once, on exactly those
    documents (carried features come from the stored table)."""
    from time_series_db_spark.pipeline import curate

    old = spark.createDataFrame(_SNAP_OLD, "doc_id long, text string")
    new = spark.createDataFrame(_SNAP_NEW, "doc_id long, text string")
    stored = curate.curate_features(old)

    seen = []
    real = curate.curate_features

    def counting(docs, *a, **kw):
        seen.append(sorted(r["doc_id"] for r in docs.select("doc_id").collect()))
        return real(docs, *a, **kw)

    monkeypatch.setattr(curate, "curate_features", counting)
    out = curate.curate_incremental(old, new, stored).collect()
    assert seen == [[3, 5]]  # changed + added ONLY, one invocation
    assert out


# ---------------------------------------------------------------------------
# linear quality classifier (fit/apply)
# ---------------------------------------------------------------------------

def _cls_docs(spark, n=80, seed_tok=("alpha", "beta", "gamma")):
    """Synthetic corpus: even-indexed docs are 'good' (carry the seed
    tokens), odd ones are filler from a disjoint vocabulary."""
    rows = []
    filler = ["noise", "junk", "crawl", "spam", "boiler", "plate"]
    for i in range(n):
        if i % 2 == 0:
            words = list(seed_tok) * 3 + [filler[i % 3]]
        else:
            words = [filler[(i + j) % len(filler)] for j in range(9)]
        rows.append((i, " ".join(words), 1 if i % 2 == 0 else 0))
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


@pytest.mark.slow
def test_classifier_learns_planted_separation(spark):
    from time_series_db_spark.pipeline import classifier

    docs = _cls_docs(spark)
    train = docs.filter("doc_id < 40")
    test = docs.filter("doc_id >= 40")
    # token-concentrated fixture: ||x||^2 ~ 19 at scale 8, so the
    # corpus default lr 0.5 exceeds the 2/lambda_max stability bound
    model = classifier.classifier_fit(train, iters=8, n_buckets=64, lr=0.05)
    out = {
        r["doc_id"]: r
        for r in classifier.classifier_score(
            test, model, n_buckets=64
        ).collect()
    }
    truth = {r["doc_id"]: r["y"] for r in test.collect()}
    acc = sum(
        1 for i, r in out.items() if r["pred"] == truth[i]
    ) / len(out)
    assert acc == 1.0
    # scores actually separate (not a knife-edge threshold win)
    good = [r["score"] for i, r in out.items() if truth[i] == 1]
    bad = [r["score"] for i, r in out.items() if truth[i] == 0]
    assert min(good) > max(bad) + 0.2


@pytest.mark.slow
def test_classifier_model_survives_parquet_roundtrip(spark, tmp_path):
    """The model table is the persisted artifact: scoring under the
    parquet round-tripped weights must be row-identical."""
    from time_series_db_spark.pipeline import classifier

    docs = _cls_docs(spark, n=40)
    model = classifier.classifier_fit(docs, iters=4, n_buckets=64, lr=0.05)
    path = str(tmp_path / "qcls_model")
    model.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    a = sorted(
        map(repr, classifier.classifier_score(
            docs, model, n_buckets=64
        ).collect())
    )
    b = sorted(
        map(repr, classifier.classifier_score(
            docs, reloaded, n_buckets=64
        ).collect())
    )
    assert a == b


def test_classifier_empty_doc_still_scores(spark):
    """The intercept row guarantees coverage: a document with no
    tokens gets the prior score, not a dropped row."""
    from time_series_db_spark.pipeline import classifier

    docs = _cls_docs(spark, n=20)
    model = classifier.classifier_fit(docs, iters=4, n_buckets=64, lr=0.05)
    empty = spark.createDataFrame(
        [(999, "   ")], "doc_id long, text string"
    )
    out = classifier.classifier_score(empty, model, n_buckets=64).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 999


@pytest.mark.slow
def test_classifier_xxhash64_path_matches_md5_accuracy(spark):
    """The production hash changes bucket assignments but not
    learnability: both paths must fully separate the planted corpus."""
    from time_series_db_spark.pipeline import classifier

    docs = _cls_docs(spark, n=40)
    for fn in ("md5", "xxhash64"):
        model = classifier.classifier_fit(
            docs, iters=8, n_buckets=64, lr=0.05, hash_fn=fn
        )
        out = classifier.classifier_score(
            docs, model, n_buckets=64, hash_fn=fn
        ).collect()
        truth = {r["doc_id"]: r["y"] for r in docs.collect()}
        acc = sum(1 for r in out if r["pred"] == truth[r["doc_id"]]) / len(out)
        assert acc == 1.0, fn


def test_classifier_guards(spark):
    from time_series_db_spark.pipeline import classifier

    docs = _cls_docs(spark, n=10)
    with pytest.raises(ValueError, match="iters"):
        classifier.classifier_fit(docs, iters=0)
    with pytest.raises(ValueError, match="non-empty"):
        classifier.classifier_fit(docs.filter("doc_id < 0"))


# ---------------------------------------------------------------------------
# boilerplate span removal (pipeline/dedup.py:boilerplate_span_removal)
# ---------------------------------------------------------------------------


def _boiler_docs(spark):
    nav = "home about contact"  # 3-word template span shared corpus-wide
    rows = [
        (1, f"{nav} alpha beta gamma delta epsilon zeta"),
        (2, f"{nav} one two three four five six"),
        (3, f"{nav} red green blue cyan magenta yellow"),
        (4, "unique text only here nothing shared at all"),
        # within-doc repetition of a span NOT shared across docs
        (5, "ping pong bat ping pong bat tail word x"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_boilerplate_spans_removed_from_all_docs(spark):
    """A 3-word span present in ≥3 distinct documents is cut from EVERY
    document — the first occurrence too (prevalence policy, not
    first-wins); unshared text is untouched."""
    from time_series_db_spark.pipeline import dedup

    out = dedup.boilerplate_span_removal(
        _boiler_docs(spark), span_words=3, min_docs=3
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["text_clean"] == "alpha beta gamma delta epsilon zeta"
    assert got[2]["text_clean"] == "one two three four five six"
    assert got[3]["text_clean"] == "red green blue cyan magenta yellow"
    for d in (1, 2, 3):
        assert got[d]["n_removed"] == 1 and got[d]["n_spans"] == 3
    assert got[4]["n_removed"] == 0
    assert got[4]["text_clean"] == "unique text only here nothing shared at all"


def test_boilerplate_within_doc_repetition_not_boilerplate(spark):
    """Prevalence counts distinct DOCUMENTS: 'ping pong bat' twice in
    one doc is repetition, not corpus boilerplate, and survives even at
    min_docs=2."""
    from time_series_db_spark.pipeline import dedup

    out = dedup.boilerplate_span_removal(
        _boiler_docs(spark), span_words=3, min_docs=2
    )
    row = {r["doc_id"]: r for r in out.collect()}[5]
    assert row["n_removed"] == 0
    assert row["text_clean"] == "ping pong bat ping pong bat tail word x"


def test_boilerplate_fully_templated_doc_empties(spark):
    """A document that is ONLY boilerplate reassembles to the empty
    string (coalesce contract shared with the oracle)."""
    from time_series_db_spark.pipeline import dedup

    rows = [(i, "home about contact") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.boilerplate_span_removal(df, span_words=3, min_docs=3)
    for r in out.collect():
        assert r["text_clean"] == "" and r["n_removed"] == 1


def test_boilerplate_hash_fn_parity(spark):
    """The xxhash64 production path flags the same spans as the
    oracle-portable md5 path."""
    from time_series_db_spark.pipeline import dedup

    docs = _boiler_docs(spark)
    md5 = dedup.boilerplate_span_removal(docs, hash_fn="md5")
    xx = dedup.boilerplate_span_removal(docs, hash_fn="xxhash64")
    assert sorted(map(tuple, md5.collect())) == sorted(map(tuple, xx.collect()))


def test_boilerplate_guards(spark):
    from time_series_db_spark.pipeline import dedup

    docs = _boiler_docs(spark)
    with pytest.raises(ValueError, match="span_words"):
        dedup.boilerplate_span_removal(docs, span_words=0)
    with pytest.raises(ValueError, match="min_docs"):
        dedup.boilerplate_span_removal(docs, min_docs=1)


# ---------------------------------------------------------------------------
# seasonal-naive + drift forecast (operators/windows.py:forecast)
# ---------------------------------------------------------------------------


def test_forecast_reproduces_periodic_plus_trend_exactly(spark):
    """On a pure season+linear-trend series, SNAIVE+drift IS the true
    continuation: base value one season back + one season of the exact
    endpoint slope.  Check every horizon sample against the generator."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    # n ≡ 1 (mod P): first and last samples share a phase, so the
    # endpoint drift IS the true slope (the textbook drift estimator is
    # endpoint slope — any phase gap between the endpoints contaminates
    # it with seasonal amplitude, by definition)
    P, n, slope = 4, 25, 0.5
    season_vals = [10.0, 20.0, 5.0, 15.0]
    vals = [season_vals[i % P] + slope * i for i in range(n)]
    sf = _series_df(spark, vals)
    out = windows.forecast(sf, horizon=2 * P, season_ms=P * 1000)
    got = {r["ts"]: r["value"] for r in out.df.collect()}
    assert len(got) == 2 * P
    for h in range(1, 2 * P + 1):
        t = n - 1 + h
        want = season_vals[t % P] + slope * t
        assert got[(n - 1 + h) * 1000] == pytest.approx(want, abs=1e-9), h


def test_forecast_naive_degenerate_and_no_drift(spark):
    """season == step degrades to the plain naive forecast: with
    drift=False every horizon sample IS the last value; with drift the
    endpoint slope accrues linearly."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    sf = _series_df(spark, vals)
    flat = windows.forecast(sf, horizon=3, season_ms=1000, drift=False)
    assert [r["value"] for r in flat.df.orderBy("ts").collect()] == [5.0] * 3
    trend = windows.forecast(sf, horizon=3, season_ms=1000, drift=True)
    assert [r["value"] for r in trend.df.orderBy("ts").collect()] == [
        6.0, 7.0, 8.0,
    ]


def test_forecast_null_contract(spark):
    """A NaN base propagates NaN; an ABSENT base yields an absent
    forecast row (never a NULL-valued row); drift endpoints use finite
    samples only."""
    import math

    from pyspark.sql import functions as F
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    # last season is [4.0, NaN]; drop the ts=3000 sample → absent base
    sf = _series_df(spark, [1.0, 2.0, 4.0, 9.0, float("nan")])
    sf = sf.with_df(sf.df.filter(F.col("ts") != 3000))
    out = windows.forecast(sf, horizon=2, season_ms=2000, drift=False)
    rows = {r["ts"]: r["value"] for r in out.df.collect()}
    # last finite sample is ts=4000 (NaN is NOT finite → lts=2000)...
    # finite extent ends at ts=2000, so horizons are 3000 (base 1000)
    # and 4000 (base 2000)
    assert rows[3000] == 2.0 and rows[4000] == 4.0
    # now keep the NaN INSIDE the horizon's base window
    sf2 = _series_df(spark, [1.0, 2.0, float("nan"), 9.0])
    out2 = windows.forecast(sf2, horizon=3, season_ms=3000, drift=False)
    rows2 = {r["ts"]: r["value"] for r in out2.df.collect()}
    assert rows2[4000] == 2.0
    assert math.isnan(rows2[5000])  # NaN base propagates
    assert rows2[6000] == 9.0


def test_forecast_guards(spark):
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    sf = _series_df(spark, [1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="horizon"):
        windows.forecast(sf, horizon=0, season_ms=1000)
    with pytest.raises(ValueError, match="multiple of the grid step"):
        windows.forecast(sf, horizon=2, season_ms=1500)


def test_forecast_m3ql_stage(spark, sf_dir):
    """`forecast horizon [auto|season] [noDrift]` through the full
    language path: the staged pipeline equals the operator call, and
    malformed forms raise plan errors."""
    from time_series_db_spark.catalog_m3ql import run_m3ql
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan
    from time_series_db_spark.operators import windows
    from time_series_db_spark.sources import fetch_events

    plan = build_plan(parse("fetch name:x | forecast 8 auto noDrift"))
    assert "FORECAST(horizon=8, season=auto, drift=False)" in plan.dump()
    plan2 = build_plan(parse("fetch name:x | forecast 4 1d"))
    assert "FORECAST(horizon=4, season=86400000, drift=True)" in plan2.dump()
    for bad in [
        "fetch name:x | forecast",
        "fetch name:x | forecast zero",
        "fetch name:x | forecast 0",
        "fetch name:x | forecast 4 auto 1h",
        "fetch name:x | forecast 4 auto extra noDrift",
    ]:
        with pytest.raises(M3PlanError):
            build_plan(parse(bad))

    got = sorted(
        (r["series_key"], r["ts"], round(r["value"], 9))
        for r in run_m3ql(
            spark, sf_dir, "fetch name:* | forecast 6 auto"
        ).df.collect()
    )
    want = sorted(
        (r["series_key"], r["ts"], round(r["value"], 9))
        for r in windows.forecast(
            fetch_events(spark, sf_dir), horizon=6
        ).df.collect()
    )
    assert got == want and got


# ---------------------------------------------------------------------------
# incremental model maintenance (pipeline/dedup.py:minhash_update)
# ---------------------------------------------------------------------------


def test_minhash_update_equals_refit(spark):
    """update(fit(old), delta, removed) must equal fit(current) row for
    row: changed docs REPLACE their signature rows, added docs join,
    removed ids drop, unchanged rows pass through untouched."""
    from time_series_db_spark.pipeline import dedup

    old = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "one two three four five six"),
            (2, "to be removed from the corpus"),
            (3, "stale text that will be rewritten"),
        ],
        "doc_id long, text string",
    )
    current = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),      # unchanged
            (1, "one two three four five six"),          # unchanged
            (3, "fresh text replacing the stale row"),   # changed
            (4, "a brand new crawl document arrives"),   # added
        ],
        "doc_id long, text string",
    )
    delta = current.filter("doc_id >= 3")  # changed + added
    removed = spark.createDataFrame([(2,)], "doc_id long")
    updated = dedup.minhash_update(
        dedup.minhash_fit(old), docs=delta, remove_ids=removed
    )
    refit = dedup.minhash_fit(current)
    canon = lambda df: sorted(
        (r["doc_id"], tuple(sorted(r["shingles"])), tuple(r["sig"]))
        for r in df.collect()
    )
    assert canon(updated) == canon(refit)
    assert len(canon(updated)) == 4


def test_minhash_update_hashes_delta_only(spark, monkeypatch):
    """The update must compute signatures for the DELTA docs only — the
    model side moves integer arrays, never re-touching text."""
    from time_series_db_spark.pipeline import dedup

    docs = spark.createDataFrame(_XC_TEXTS, "doc_id long, text string")
    model = dedup.minhash_fit(docs.filter("doc_id < 4"))
    calls = []
    real = dedup.minhash_signatures

    def counting(df, *a, **kw):
        calls.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(dedup, "minhash_signatures", counting)
    out = dedup.minhash_update(model, docs=docs.filter("doc_id >= 4"))
    assert len(calls) == 1, "update must hash the delta only"
    assert out.count() == 6
    with pytest.raises(ValueError, match="neither"):
        dedup.minhash_update(model)


# ---------------------------------------------------------------------------
# threshold calibration (pipeline/classifier.py:classifier_calibration)
# ---------------------------------------------------------------------------


def test_classifier_calibration_confusion_counts(spark):
    """Planted scores/labels: exact confusion counts and derived
    ratios at each cut; a threshold above every score keeps nothing
    and its precision is NULL (undefined), not 0."""
    from time_series_db_spark.pipeline import classifier

    scored = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.4), (4, 0.1)],
        "doc_id long, score double",
    )
    labeled = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 0)], "doc_id long, y int"
    )
    out = {
        r["threshold"]: r
        for r in classifier.classifier_calibration(
            scored, labeled, [0.5, 0.95]
        ).collect()
    }
    lo = out[0.5]
    assert (lo["tp"], lo["fp"], lo["fn"], lo["tn"]) == (1, 1, 1, 1)
    assert lo["precision"] == 0.5 and lo["recall"] == 0.5
    assert lo["f1"] == 0.5 and lo["keep_rate"] == 0.5
    hi = out[0.95]
    assert hi["n_keep"] == 0 and hi["precision"] is None
    assert hi["recall"] == 0.0 and hi["tn"] == 2


def test_classifier_calibration_boundary_is_integer_exact(spark):
    """A score exactly AT the cut is kept (≥ on the integer grid): the
    1e-4 quantization means 0.5-vs-0.5 can never flip on a float ulp."""
    from time_series_db_spark.pipeline import classifier

    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.4999)], "doc_id long, score double"
    )
    labeled = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, y int"
    )
    row = classifier.classifier_calibration(scored, labeled, [0.5]).collect()[0]
    assert row["n_keep"] == 1 and row["tp"] == 1 and row["fn"] == 1


def test_classifier_calibration_guards(spark):
    from time_series_db_spark.pipeline import classifier

    scored = spark.createDataFrame([(1, 0.5)], "doc_id long, score double")
    labeled = spark.createDataFrame([(1, 1)], "doc_id long, y int")
    with pytest.raises(ValueError, match="non-empty"):
        classifier.classifier_calibration(scored, labeled, [])
    with pytest.raises(ValueError, match="collide"):
        classifier.classifier_calibration(scored, labeled, [0.5, 0.50004])


# ---------------------------------------------------------------------------
# ranking-quality evaluation (pipeline/retrieval.py:retrieval_eval)
# ---------------------------------------------------------------------------


def test_retrieval_eval_hand_computed(spark):
    """Graded judgments {A:3, B:2, C:1}, ranking [B, X, A], k=3:
    recall 2/3, MRR 1 (first hit at rank 1), nDCG from exact integer
    gain·discount sums with the driver-computed discount table."""
    from time_series_db_spark.pipeline.retrieval import (
        _ndcg_discounts_nano,
        retrieval_eval,
    )

    ranked = spark.createDataFrame(
        [("q", "B", 1), ("q", "X", 2), ("q", "A", 3)],
        "query_id string, neighbor_id string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", "A", 3), ("q", "B", 2), ("q", "C", 1)],
        "query_id string, neighbor_id string, rel int",
    )
    row = retrieval_eval(ranked, qrels, k=3).collect()[0]
    d = _ndcg_discounts_nano(3)
    dcg = 3 * d[0] + 7 * d[2]            # B at rank 1, A at rank 3
    idcg = 7 * d[0] + 3 * d[1] + 1 * d[2]
    assert row["n_rel"] == 3 and row["n_hits"] == 2
    assert row["recall_k"] == pytest.approx(2 / 3)
    assert row["mrr_k"] == 1.0
    assert row["ndcg_k"] == pytest.approx(dcg / idcg)


def test_retrieval_eval_misses_and_unjudged(spark):
    """A judged query the retriever never surfaces still emits a row
    (all zeros — silent misses are the point); a query with ranked
    rows but no positive judgments is undefined and absent; judgments
    below rel=1 never count as relevant."""
    from time_series_db_spark.pipeline.retrieval import retrieval_eval

    ranked = spark.createDataFrame(
        [("q1", "X", 1), ("q2", "A", 1)],
        "query_id string, neighbor_id string, rank long",
    )
    qrels = spark.createDataFrame(
        [("q1", "A", 1), ("q1", "B", 1), ("q2", "A", 0), ("q3", "Z", 2)],
        "query_id string, neighbor_id string, rel int",
    )
    rows = {r["query_id"]: r for r in retrieval_eval(ranked, qrels, k=2).collect()}
    assert set(rows) == {"q1", "q3"}  # q2 has no positive judgments
    q1 = rows["q1"]
    assert q1["n_hits"] == 0 and q1["recall_k"] == 0.0
    assert q1["mrr_k"] == 0.0 and q1["ndcg_k"] == 0.0
    q3 = rows["q3"]  # judged, never ranked
    assert q3["n_rel"] == 1 and q3["n_hits"] == 0 and q3["ndcg_k"] == 0.0
    with pytest.raises(ValueError, match="k must be positive"):
        retrieval_eval(ranked, qrels, k=0)


def test_retrieval_eval_rank_cut_applies(spark):
    """Hits past the k cut do not count toward any of the metrics."""
    from time_series_db_spark.pipeline.retrieval import retrieval_eval

    ranked = spark.createDataFrame(
        [("q", "A", 5)], "query_id string, neighbor_id string, rank long"
    )
    qrels = spark.createDataFrame(
        [("q", "A", 1)], "query_id string, neighbor_id string, rel int"
    )
    row = retrieval_eval(ranked, qrels, k=3).collect()[0]
    assert row["n_hits"] == 0 and row["mrr_k"] == 0.0
    row5 = retrieval_eval(ranked, qrels, k=5).collect()[0]
    assert row5["n_hits"] == 1 and row5["mrr_k"] == pytest.approx(0.2)


# ---------------------------------------------------------------------------
# rolling correlation vs target (operators/stats.py:rolling_corr_target)
# ---------------------------------------------------------------------------


def _two_series_frame(spark, tgt_vals, fleet_vals, step=1000):
    from time_series_db_spark.model import SeriesFrame, series_key_expr

    rows = [(i * step, float(v), "tgt") for i, v in enumerate(tgt_vals)]
    rows += [(i * step, float(v), "a") for i, v in enumerate(fleet_vals)]
    df = (
        spark.createDataFrame(rows, "ts long, value double, name string")
        .withColumn("labels", F.create_map(F.lit("name"), F.col("name")))
        .withColumn("alias", F.lit(None).cast("string"))
        .withColumn("series_key", F.concat(F.lit("name:"), F.col("name")))
        .select("series_key", "labels", "alias", "ts", "value")
    )
    n = max(len(tgt_vals), len(fleet_vals))
    return SeriesFrame(df=df, step=step, min_ts=0, max_ts=n * step)


def test_rolling_corr_detects_decoupling(spark):
    """A series that tracks the target then flips to anti-tracking:
    windows fully inside each regime read +1 / −1 — the decoupling the
    global correlate_target number averages away."""
    from time_series_db_spark.operators import stats

    tgt = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    fleet = [1.0, 2.0, 3.0, 4.0, -5.0, -6.0, -7.0, -8.0]
    sf = _two_series_frame(spark, tgt, fleet)
    out = stats.rolling_corr_target(
        sf, {"name": "tgt"}, window_buckets=3, min_points=3
    )
    got = {
        (r["series_key"], r["ts"]): round(r["value"], 9)
        for r in out.df.collect()
    }
    assert got[("name:a", 3000)] == 1.0   # window [1,2,3,4][t=1..3]: tracking
    assert got[("name:a", 7000)] == -1.0  # window deep in the flipped regime
    # the target against itself is identically 1 wherever defined
    assert all(
        v == 1.0 for (k, _), v in got.items() if k == "name:tgt"
    )


def test_rolling_corr_null_contract_and_guards(spark):
    """Locally-constant windows (zero variance) and windows under
    min_points are ABSENT rows; matcher and window guards raise."""
    from time_series_db_spark.operators import stats

    tgt = [1.0, 2.0, 3.0, 4.0, 5.0]
    flat = [7.0, 7.0, 7.0, 7.0, 7.0]
    sf = _two_series_frame(spark, tgt, flat)
    out = stats.rolling_corr_target(
        sf, {"name": "tgt"}, window_buckets=3, min_points=3
    )
    keys = {r["series_key"] for r in out.df.collect()}
    assert "name:a" not in keys  # constant series: corr undefined
    # min_points: first two samples have windows of size < 3
    ts_tgt = sorted(
        r["ts"] for r in out.df.filter("series_key = 'name:tgt'").collect()
    )
    assert ts_tgt == [2000, 3000, 4000]
    with pytest.raises(ValueError, match="at least one label"):
        stats.rolling_corr_target(sf, {}, window_buckets=3)
    with pytest.raises(ValueError, match="window_buckets"):
        stats.rolling_corr_target(sf, {"name": "tgt"}, window_buckets=1)
    with pytest.raises(ValueError, match="selects 0 series"):
        stats.rolling_corr_target(sf, {"name": "nope"}, window_buckets=3)


# ---------------------------------------------------------------------------
# Hamming-banded aHash near-dup (pipeline/multimodal.py:ahash_neardup_pairs)
# ---------------------------------------------------------------------------


def test_ahash_neardup_matches_brute_force(spark):
    """Pigeonhole completeness at the boundary: against a brute-force
    O(n²) replay over deterministic pseudo-random 64-bit hashes, the
    banded path must find EXACTLY the pairs with Hamming ≤ 7 — d =
    num_bands − 1 is the guarantee's edge."""
    from time_series_db_spark.pipeline import multimodal

    # xorshift-ish deterministic hashes + planted near pairs
    hs = []
    x = 88172645463325252
    for i in range(40):
        x ^= (x << 13) & ((1 << 64) - 1)
        x ^= x >> 7
        x ^= (x << 17) & ((1 << 64) - 1)
        hs.append(x & ((1 << 64) - 1))
    hs.append(hs[0] ^ 0b1011)            # d=3 from #0
    hs.append(hs[1] ^ ((1 << 63) | 1))   # d=2 from #1, sign bit flips
    hs.append(hs[2] ^ 0x7F)              # d=7 from #2 (the boundary)
    signed = [h - (1 << 64) if h >= (1 << 63) else h for h in hs]
    brute = sorted(
        (i, j, bin(hs[i] ^ hs[j]).count("1"))
        for i in range(len(hs))
        for j in range(i + 1, len(hs))
        if bin(hs[i] ^ hs[j]).count("1") <= 7
    )
    df = spark.createDataFrame(
        list(enumerate(signed)), "media_id long, ahash long"
    )
    got = sorted(
        tuple(r)
        for r in multimodal.ahash_neardup_pairs(
            df, max_hamming=7, num_bands=8
        ).collect()
    )
    assert got == brute
    assert {(0, 40, 3), (1, 41, 2), (2, 42, 7)} <= set(brute)


def test_ahash_neardup_null_and_guards(spark):
    from time_series_db_spark.pipeline import multimodal

    df = spark.createDataFrame(
        [(0, 15), (1, 14), (2, None)], "media_id long, ahash long"
    )
    got = multimodal.ahash_neardup_pairs(df, max_hamming=1).collect()
    assert [tuple(r) for r in got] == [(0, 1, 1)]  # NULL hash excluded
    with pytest.raises(ValueError, match="divide 64"):
        multimodal.ahash_neardup_pairs(df, num_bands=7)
    with pytest.raises(ValueError, match="pigeonhole"):
        multimodal.ahash_neardup_pairs(df, max_hamming=8, num_bands=8)


def test_catalog_registration_is_structurally_sound():
    """Every registered query's FUNCTION NAME equals its registry key.
    This pins the failure mode where a helper def slips between a
    @register decorator and its intended function (the decorator
    silently latches onto the helper, the real entry never registers,
    and the driver calls a 0-arg helper as a query) — caught once in
    r10 by bench, now structural."""
    from time_series_db_spark.catalog import ORACLES, QUERIES

    bad = [
        (name, fn.__name__)
        for name, fn in QUERIES.items()
        if fn.__name__ != name
    ]
    assert not bad, f"registry key != function name: {bad}"
    assert set(ORACLES) <= set(QUERIES)
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_ahash_neardup_stop_band_cap_semantics(spark):
    """max_bucket drops HOT band values from candidate generation: a
    pair sharing a cold band is still found even when all its other
    shared bands are hot; a pair whose EVERY shared band is hot is the
    documented miss.  Cap < 2 is rejected."""
    from time_series_db_spark.pipeline import multimodal

    # six hashes identical in bands 0-6 (every one of those seven band
    # buckets has size 6 -> HOT at cap 4); band 7 distinguishes them
    base = 0x11223344556677
    b7 = [0x00, 0x03, 0x10, 0x2C, 0x47, 0x81]  # pairwise-distinct bytes
    wrap = lambda h: h - (1 << 64) if h >= (1 << 63) else h
    rows = [(i, wrap(base | (v << 56))) for i, v in enumerate(b7)]
    df = spark.createDataFrame(rows, "media_id long, ahash long")
    # (0, 1) differ only in 2 band-7 bits: genuine near-dups, but every
    # band they AGREE on (0-6) is hot -> the documented capped miss
    capped = {
        (r["id_a"], r["id_b"])
        for r in multimodal.ahash_neardup_pairs(
            df, max_hamming=7, num_bands=8, max_bucket=4
        ).collect()
    }
    assert capped == set()
    # uncapped keeps the unconditional pigeonhole guarantee
    full = {
        (r["id_a"], r["id_b"])
        for r in multimodal.ahash_neardup_pairs(
            df, max_hamming=7, num_bands=8
        ).collect()
    }
    assert (0, 1) in full
    # give 0 and 1 a shared band-7 value instead: that 2-hash bucket is
    # COLD, so the pair survives the cap via its one cold shared band
    rows2 = [(0, base), (1, base)] + rows[2:]
    df2 = spark.createDataFrame(rows2, "media_id long, ahash long")
    got2 = {
        (r["id_a"], r["id_b"])
        for r in multimodal.ahash_neardup_pairs(
            df2, max_hamming=7, num_bands=8, max_bucket=4
        ).collect()
    }
    assert (0, 1) in got2
    with pytest.raises(ValueError, match="max_bucket"):
        multimodal.ahash_neardup_pairs(df, max_bucket=1)


# ---------------------------------------------------------------------------
# IVF fit/apply split (pipeline/ann.py:ivf_fit)
# ---------------------------------------------------------------------------


def _toy_vectors(spark):
    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) / 5.0 for d in range(4)])
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.slow
def test_ivf_model_matches_inline_fit(spark):
    """Searching a pre-built ivf_fit index must return EXACTLY what the
    inline corpus= path returns — the split changes which side pays the
    training scan, not the result."""
    from time_series_db_spark.pipeline import ann

    vecs = _toy_vectors(spark)
    queries = vecs.filter("vec_id % 10 = 0")
    inline = sorted(
        tuple(r)
        for r in ann.ivf_kmeans_topk(
            vecs, queries, k=3, nlist=4, nprobe=2, train_iters=2
        ).collect()
    )
    model = ann.ivf_fit(vecs, nlist=4, train_iters=2)
    split = sorted(
        tuple(r)
        for r in ann.ivf_kmeans_topk(
            queries=queries, k=3, nprobe=2, model=model
        ).collect()
    )
    assert inline == split and inline


def test_ivf_model_never_retrains(spark, monkeypatch, tmp_path):
    """The model= path must not run k-means or re-assign the corpus —
    and the two model tables survive a parquet round trip (the
    documented 100 TB flow: cells partitioned by cell)."""
    from time_series_db_spark.pipeline import ann

    vecs = _toy_vectors(spark)
    queries = vecs.filter("vec_id % 10 = 0")
    model = ann.ivf_fit(vecs, nlist=4, train_iters=2)
    cdir, ldir = str(tmp_path / "cents"), str(tmp_path / "cells")
    model["centroids"].write.mode("overwrite").parquet(cdir)
    model["cells"].write.mode("overwrite").partitionBy("cell").parquet(ldir)
    stored = {
        "centroids": spark.read.parquet(cdir),
        "cells": spark.read.parquet(ldir),
    }
    calls = []
    monkeypatch.setattr(
        ann, "kmeans_centroids",
        lambda *a, **kw: calls.append(1) or (_ for _ in ()).throw(
            AssertionError("model= path must not train")
        ),
    )
    out = ann.ivf_kmeans_topk(
        queries=queries, k=3, nprobe=2, model=stored
    ).collect()
    assert out and not calls
    with pytest.raises(ValueError, match="exactly one"):
        ann.ivf_kmeans_topk(vecs, queries, model=stored)
    with pytest.raises(ValueError, match="exactly one"):
        ann.ivf_kmeans_topk(queries=queries)


# ---------------------------------------------------------------------------
# n-gram novelty (pipeline/text.py:ngram_novelty)
# ---------------------------------------------------------------------------


def test_ngram_novelty_planted(spark):
    """A fully-unique doc scores 1.0; a doc whose every 3-gram also
    appears in another doc scores 0.0; a half-shared doc lands between;
    within-doc repeats don't deflate novelty (grams are distinct per
    doc before prevalence)."""
    from time_series_db_spark.pipeline import text

    shared = "alpha beta gamma delta"
    rows = [
        (1, shared),                                 # fully copied by 2
        (2, shared),
        (3, "completely original words nobody else uses"),
        # first 4 words shared with 1/2 (two shared 3-grams), tail unique
        (4, f"{shared} zeta eta theta"),
        # within-doc repetition of its own unique phrase
        (5, "solo trio quad solo trio quad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.ngram_novelty(df, n=3).collect()}
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[3]["novelty"] == 1.0
    # doc 4: grams = 5 total, 2 shared with docs 1/2 -> 3/5 novel
    assert got[4]["n_grams"] == 5 and got[4]["n_unique"] == 3
    assert got[4]["novelty"] == pytest.approx(0.6)
    assert got[5]["novelty"] == 1.0  # self-repeats are still its alone
    with pytest.raises(ValueError, match="n must be positive"):
        text.ngram_novelty(df, n=0)


# ---------------------------------------------------------------------------
# forecast backtest (operators/windows.py:forecast_backtest)
# ---------------------------------------------------------------------------


def test_forecast_backtest_scores_perfect_and_shifted(spark):
    """On a pure season+trend series the SNAIVE+drift backtest scores
    zero error; adding a constant +c to the HELD-OUT actuals makes
    mae = c and bias = −c (prediction under actual)."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    P, slope = 4, 0.5
    season_vals = [10.0, 20.0, 5.0, 15.0]
    n = 29  # train prefix ends at index 24 ≡ 0 (mod 4): exact drift
    vals = [season_vals[i % P] + slope * i for i in range(n)]
    sf = _series_df(spark, vals)
    row = windows.forecast_backtest(
        sf, horizon=4, season_ms=P * 1000
    ).collect()[0]
    assert row["n_eval"] == 4
    assert row["mae"] == 0.0 and row["bias"] == 0.0 and row["mape"] == 0.0

    shifted = vals[:25] + [v + 2.0 for v in vals[25:]]
    row2 = windows.forecast_backtest(
        _series_df(spark, shifted), horizon=4, season_ms=P * 1000
    ).collect()[0]
    assert row2["mae"] == pytest.approx(2.0)
    assert row2["bias"] == pytest.approx(-2.0)


def test_forecast_backtest_mape_null_on_zero_actuals(spark):
    """All-zero held-out actuals: MAPE is NULL (undefined), MAE is the
    plain error magnitude; horizon guard raises."""
    from tests.test_r8_ops import _series_df
    from time_series_db_spark.operators import windows

    vals = [3.0] * 8 + [0.0, 0.0]
    row = windows.forecast_backtest(
        _series_df(spark, vals), horizon=2, season_ms=1000, drift=False
    ).collect()[0]
    assert row["mape"] is None and row["mae"] == pytest.approx(3.0)
    with pytest.raises(ValueError, match="horizon"):
        windows.forecast_backtest(_series_df(spark, vals), horizon=0)


def test_ngram_novelty_hash_fn_parity(spark):
    """The xxhash64 production path scores identically to the
    oracle-portable md5 path."""
    from time_series_db_spark.pipeline import text

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "totally different words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    md5 = sorted(map(tuple, text.ngram_novelty(df, hash_fn="md5").collect()))
    xx = sorted(
        map(tuple, text.ngram_novelty(df, hash_fn="xxhash64").collect())
    )
    assert md5 == xx


# ---------------------------------------------------------------------------
# token-budget sampling (pipeline/pack.py:sample_token_budget)
# ---------------------------------------------------------------------------


def _budget_docs(spark):
    rows = []
    for i in range(40):
        src = "a" if i % 2 == 0 else "b"
        words = " ".join(f"w{j}" for j in range((i % 5) + 3))  # 3..7 toks
        rows.append((i, words, src))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_token_budget_matches_python_replay(spark):
    """The kept set equals the sequential replay: take docs in md5(id)
    order until the stratum's token budget would be exceeded (a doc is
    kept only if it fits wholly — the greedy fill can skip a big doc
    and still take a later small one? NO: the contract is prefix-fill,
    the first non-fitting doc ENDS the stratum)."""
    import hashlib

    from time_series_db_spark.pipeline import pack

    docs = _budget_docs(spark)
    budgets = {"a": 40, "b": 25}
    got = sorted(
        (r["doc_id"], r["stratum"], r["n_tokens"])
        for r in pack.sample_token_budget(docs, budgets).collect()
    )

    def prio(i):
        return int(hashlib.md5(f"budget:{i}".encode()).hexdigest()[:15], 16)

    want = []
    for src in ("a", "b"):
        pool = sorted(
            (prio(i), i, (i % 5) + 3)
            for i in range(40)
            if ("a" if i % 2 == 0 else "b") == src
        )
        acc = 0
        for _, i, nt in pool:
            if acc + nt > budgets[src]:
                break
            acc += nt
            want.append((i, src, nt))
    assert got == sorted(want) and got
    # budget semantics: kept token mass never exceeds the budget
    mass = {}
    for _, s, nt in got:
        mass[s] = mass.get(s, 0) + nt
    assert mass["a"] <= 40 and mass["b"] <= 25


@pytest.mark.slow
def test_token_budget_bucketing_is_pure_parallelism(spark):
    """n_buckets must not change the result: the bucket-threshold path
    (only the boundary bucket sorts) equals the full-sort degenerate
    n_buckets=1 — bucketing is an optimization, not an approximation."""
    from time_series_db_spark.pipeline import pack

    docs = _budget_docs(spark)
    budgets = {"a": 37, "b": 1}
    runs = [
        sorted(
            map(tuple, pack.sample_token_budget(
                docs, budgets, n_buckets=nb
            ).collect())
        )
        for nb in (1, 8, 64)
    ]
    assert runs[0] == runs[1] == runs[2]
    # b's budget of 1 token fits no 3-token doc: empty stratum, not error
    assert not [r for r in runs[0] if r[1] == "b"]


def test_token_budget_small_stratum_and_guards(spark):
    from time_series_db_spark.pipeline import pack

    docs = _budget_docs(spark)
    out = pack.sample_token_budget(docs, {"a": 10**9}).collect()
    assert len(out) == 20  # whole stratum fits; absent strata excluded
    with pytest.raises(ValueError, match="non-empty"):
        pack.sample_token_budget(docs, {})
    with pytest.raises(ValueError, match="non-negative"):
        pack.sample_token_budget(docs, {"a": -1})
    with pytest.raises(ValueError, match="n_buckets"):
        pack.sample_token_budget(docs, {"a": 5}, n_buckets=0)


@pytest.mark.slow
def test_ivf_update_equals_frozen_reassign(spark, monkeypatch):
    """update(fit(A), B) must equal assigning A∪B under fit(A)'s
    FROZEN centroids — centroids untouched, replaced ids win, and the
    delta path never retrains."""
    from time_series_db_spark.pipeline import ann

    vecs = _toy_vectors(spark)
    a = vecs.filter("vec_id % 2 = 0")
    b = vecs.filter("vec_id % 2 = 1")
    model = ann.ivf_fit(a, nlist=4, train_iters=2)
    calls = []
    real = ann.kmeans_centroids
    monkeypatch.setattr(
        ann, "kmeans_centroids",
        lambda *ar, **kw: calls.append(1) or real(*ar, **kw),
    )
    upd = ann.ivf_update(model, b)
    assert not calls, "ivf_update must never retrain"
    canon = lambda df: sorted(
        (r["vec_id"], tuple(r["vector"]), r["cell"]) for r in df.collect()
    )
    # expected: the union assigned under model's centroids
    cents = model["centroids"].select(
        F.col("cell").alias("__cid"), F.col("centroid").alias("__centroid")
    )
    expected = ann.ivf_assign(
        vecs.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS __v"),
        F.broadcast(cents), nprobe=1,
    ).select(
        "vec_id", F.col("__v").alias("vector"),
        F.col("__cell").cast("long").alias("cell"),
    )
    assert canon(upd["cells"]) == canon(expected)
    assert canon(upd["centroids"].selectExpr(
        "cell AS vec_id", "centroid AS vector", "cell"
    )) == canon(model["centroids"].selectExpr(
        "cell AS vec_id", "centroid AS vector", "cell"
    ))
    # replacement: re-adding id 0 with a new vector replaces its row
    moved = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    upd2 = ann.ivf_update(upd, moved)
    rows0 = [r for r in upd2["cells"].collect() if r["vec_id"] == 0]
    assert len(rows0) == 1 and rows0[0]["vector"] == [1.0, 0.0, 0.0, 0.0]


def test_rolling_corr_m3ql_stage(spark, sf_dir):
    """`rollingCorr W "tag:value"... [minPoints]` through the full
    language path equals the operator composition; malformed forms
    raise plan errors."""
    from time_series_db_spark.catalog_m3ql import run_m3ql
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan
    from time_series_db_spark.operators import grouping, stats
    from time_series_db_spark.sources import fetch_events

    plan = build_plan(
        parse('fetch name:x | rollingCorr 8 "name:y" "region:r1" 5')
    )
    assert (
        "ROLLING_CORR(window=8, target=name:y,region:r1, min_points=5)"
        in plan.dump()
    )
    for bad in [
        "fetch name:x | rollingCorr",
        "fetch name:x | rollingCorr 6",
        "fetch name:x | rollingCorr 1 \"name:y\"",
        "fetch name:x | rollingCorr six \"name:y\"",
        "fetch name:x | rollingCorr 6 \"noseparator\"",
    ]:
        with pytest.raises(M3PlanError):
            build_plan(parse(bad))

    staged = sorted(
        (r["series_key"], r["ts"], round(r["value"], 9))
        for r in run_m3ql(
            spark, sf_dir,
            'fetch name:* | max name region | '
            'rollingCorr 6 "name:click" "region:r0" 4',
        ).df.collect()
    )
    direct = stats.rolling_corr_target(
        grouping.max_(fetch_events(spark, sf_dir), ["name", "region"]),
        {"name": "click", "region": "r0"},
        window_buckets=6,
        min_points=4,
    )
    want = sorted(
        (r["series_key"], r["ts"], round(r["value"], 9))
        for r in direct.df.collect()
    )
    assert staged == want and staged


# ---------------------------------------------------------------------------
# funnel latency (operators/temporal.py:funnel_latency)
# ---------------------------------------------------------------------------


def test_funnel_latency_hand_computed(spark):
    """Three users: two complete a→b (latencies 10 and 30 ms), one
    breaks the chain.  p50 interpolates to 20, the mean is exact, the
    end-to-end row only exists for >2 steps, and only transitions with
    completions emit rows."""
    from time_series_db_spark.operators.temporal import funnel_latency

    rows = [
        (1, "a", 100), (1, "b", 110),
        (2, "a", 200), (2, "b", 230),
        (3, "a", 300),                       # never reaches b
        (1, "c", 150),                       # a->b->c completer
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    out = {
        r["transition"]: r
        for r in funnel_latency(ev, ["a", "b", "c"]).collect()
    }
    ab = out["a->b"]
    assert ab["n_users"] == 2 and ab["mean_ms"] == 20.0
    assert ab["p50_ms"] == 20.0 and ab["p90_ms"] == pytest.approx(28.0)
    assert out["b->c"]["n_users"] == 1 and out["b->c"]["mean_ms"] == 40.0
    assert out["a->c"]["n_users"] == 1 and out["a->c"]["mean_ms"] == 50.0
    # two-step funnel: no separate end-to-end row
    two = {r["transition"] for r in funnel_latency(ev, ["a", "b"]).collect()}
    assert two == {"a->b"}
    with pytest.raises(ValueError, match="quantiles"):
        funnel_latency(ev, ["a", "b"], quantiles=(1.5,))
