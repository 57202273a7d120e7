"""Pipeline-op semantics beyond the DuckDB parity harness.

The parity suite proves each registered catalog form matches its own
oracle; these tests pin the *relationships* between variants — e.g. that
the LSH-bucketed near-dup path is a sound subset of the exact all-pairs
result (approximation may lose pairs, never invent them).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from time_series_db_spark.pipeline import dedup


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.mark.slow
def test_bucketed_neardup_subset_of_exact(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs(
            embs, threshold=0.45, bucketed=False
        ).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs(
            embs, threshold=0.45, bucketed=True
        ).collect()
    }
    assert bucketed, "bucketed near-dup found no pairs at all"
    assert bucketed <= exact, "bucketed path invented pairs absent from exact"


def test_bucketed_neardup_plan_joins_on_bucket(spark, sf_dir):
    plan = dedup.embedding_neardup_pairs(
        _embs(spark, sf_dir), bucketed=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "band" in plan and "bucket" in plan, "band/bucket keys missing from plan"


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: diameter > 1 forces
    # multiple propagation rounds
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r.id: r.comp for r in dedup.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_survivors_keeps_min_and_unpaired(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 5)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id for r in dedup.dedup_survivors(docs, pairs).collect()
    )
    assert kept == [1, 3, 4, 6]


def test_apportion_largest_remainder():
    """Quotas are exact integers summing to the budget; remainders go to
    the largest fractional parts, name tie-break."""
    from time_series_db_spark.pipeline.pack import apportion

    assert apportion({"en": 0.5, "fr": 0.2, "zh": 0.2, "de": 0.1}, 120) == {
        "en": 60, "fr": 24, "zh": 24, "de": 12,
    }
    # 3-way split of 10: 3.33.. each → two get the remainder, name order
    assert apportion({"a": 1, "b": 1, "c": 1}, 10) == {"a": 4, "b": 3, "c": 3}
    assert sum(apportion({"x": 0.7, "y": 0.3}, 7).values()) == 7
    with pytest.raises(ValueError):
        apportion({}, 10)
    with pytest.raises(ValueError):
        apportion({"a": -1.0, "b": 2.0}, 10)
    with pytest.raises(ValueError):
        apportion({"a": 1.0}, 0)


def test_sample_mixture_shortfall_and_determinism(spark):
    """A stratum smaller than its quota under-fills (ranks < target_n
    visible); excluded strata never appear; re-runs are identical."""
    from time_series_db_spark.pipeline.pack import sample_mixture

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(3)]
    rows += [(200 + i, "excluded") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_mixture(df, {"big": 0.5, "small": 0.5}, budget=20)
    got = {(r["stratum"], r["sample_rank"]): r["doc_id"] for r in out.collect()}
    strata = {s for s, _ in got}
    assert strata == {"big", "small"}
    assert sum(1 for s, _ in got if s == "big") == 10        # filled quota
    assert sum(1 for s, _ in got if s == "small") == 3       # shortfall: 3 < 10
    again = {(r["stratum"], r["sample_rank"]): r["doc_id"]
             for r in sample_mixture(df, {"big": 0.5, "small": 0.5}, budget=20).collect()}
    assert got == again


def test_decontaminate_flags_and_validation(spark):
    """Documents sharing an n-gram with the eval set are flagged; clean
    documents report zero collisions; bad params raise."""
    from time_series_db_spark.pipeline.decontam import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),     # contains eval 3-gram
            (2, "one two three four five"),            # clean
            (3, "x y z alpha beta gamma tail words"),  # same eval 3-gram
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(9, "prefix alpha beta gamma suffix")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["n_collisions"], r["contaminated"])
           for r in decontaminate(corpus, evals, n=3).collect()}
    assert out[1][1] and out[3][1] and not out[2][1]
    assert out[2][0] == 0 and out[1][0] >= 1
    with pytest.raises(ValueError):
        decontaminate(corpus, evals, n=0)
    with pytest.raises(ValueError):
        decontaminate(corpus, evals, n=3, min_hits=0)


def test_semantic_dedup_keeps_min_id_per_near_group(spark):
    # 4 well-separated axis directions seed 4 clusters; ids 4 and 5 are
    # near-copies of id 0's direction -> same cluster, cosine ~1 -> both
    # dropped, id 0 (the min) survives.  id 6 is a lone direction.
    import math

    def unit(*xs):
        n = math.sqrt(sum(x * x for x in xs))
        return [x / n for x in xs]

    rows = [
        (0, unit(1.0, 0.0, 0.0, 0.0)),
        (1, unit(0.0, 1.0, 0.0, 0.0)),
        (2, unit(0.0, 0.0, 1.0, 0.0)),
        (3, unit(0.0, 0.0, 0.0, 1.0)),
        (4, unit(0.99, 0.01, 0.0, 0.0)),
        (5, unit(0.98, 0.0, 0.02, 0.0)),
        (6, unit(0.5, -0.5, 0.5, -0.5)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, nlist=4, train_iters=1, threshold=0.9)
    kept = sorted(r.vec_id for r in out.collect())
    assert 0 in kept and 4 not in kept and 5 not in kept
    assert {1, 2, 3, 6} <= set(kept)


def test_gopher_quality_rules(spark):
    from time_series_db_spark.pipeline import text as T

    long_good = " ".join(
        ["the quick brown fox jumps over that lazy dog with energy to be of and"]
        * 5
    )
    rows = [
        (0, long_good),                       # passes every rule
        (1, "short doc"),                     # < 50 words
        (2, " ".join(["#"] * 60)),            # symbol ratio + no alpha + no stops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.gopher_quality(df).collect()}
    assert out[0].keep and out[0].stop_hits >= 2
    assert not out[1].keep
    assert not out[2].keep and out[2].alpha_frac == 0.0


def test_pii_scrub_redacts_and_counts(spark):
    from time_series_db_spark.pipeline import text as T

    rows = [(0, "mail Bob.Smith+x@corp.EXAMPLE.com or 10.0.0.1 call +1 (555) 123-4567 now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = T.pii_scrub(df).collect()[0]
    assert r.n_email == 1 and r.n_ipv4 == 1 and r.n_phone == 1
    assert "<EMAIL>" in r.scrubbed and "<IPV4>" in r.scrubbed and "<PHONE>" in r.scrubbed
    assert "example.com" not in r.scrubbed and "555" not in r.scrubbed


def test_cosine_topk_arrow_matches_exact(spark, sf_dir):
    """The Arrow/numpy scoring kernel must return the same neighbors and
    ranks as the oracle-exact interpreted fold (values equal to fp noise;
    ties broken identically by neighbor id)."""
    from time_series_db_spark.pipeline import ann
    from time_series_db_spark.sources import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    exact = ann.cosine_topk(embs, queries, k=5).collect()
    arrow = ann.cosine_topk_arrow(embs, queries, k=5).collect()
    ek = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in exact}
    ak = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in arrow}
    assert set(ek) == set(ak)
    for key, (nid, cos) in ek.items():
        anid, acos = ak[key]
        assert anid == nid, f"{key}: {anid} != {nid}"
        assert abs(acos - cos) < 1e-9

    # no self-matches, exactly k per query
    import collections
    per_q = collections.Counter(r.query_id for r in arrow)
    assert all(v == 5 for v in per_q.values())
    assert all(r.query_id != r.neighbor_id for r in arrow)


@pytest.mark.slow
def test_zero_vector_does_not_crash_cosine_paths(spark):
    """A zero embedding must yield NULL cosine (no direction), not an
    ANSI DIVIDE_BY_ZERO crash — across exact top-k, near-dup pairs, and
    semantic dedup. The zero vector ranks below every real neighbor and
    never forms a near-dup pair."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero vector
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from time_series_db_spark.pipeline import ann

    topk = ann.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.neighbor_id for r in topk] == [1, 3]  # zero vec ranked out

    pairs = dedup.embedding_neardup_pairs(df, threshold=0.5, bucketed=False)
    assert all(2 not in (r.id_a, r.id_b) for r in pairs.collect())

    out = dedup.semantic_dedup(df, nlist=2, train_iters=1, threshold=0.5)
    kept = sorted(r.vec_id for r in out.collect())
    assert 2 in kept  # no similarity defined -> survives, never crashes


def test_exact_substring_dedup_edges(spark):
    """First-occurrence-wins across docs, intra-doc repeats cut, and a
    fully-duplicate doc collapses to empty text (not NULL)."""
    base = " ".join(f"w{i}" for i in range(16))          # one full chunk
    rows = [
        (0, base + " " + "tail one two"),                # owns both chunks
        (1, base + " other words here"),                 # chunk 0 duplicated
        (2, base),                                       # fully duplicate
        (3, ""),                                         # empty text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_dedup(df, chunk_words=16).collect()
    }
    assert (out[0].n_chunks, out[0].n_kept) == (2, 2)
    assert out[0].text_clean == base + " " + "tail one two"
    assert (out[1].n_chunks, out[1].n_kept) == (2, 1)
    assert out[1].text_clean == "other words here"
    assert (out[2].n_chunks, out[2].n_kept) == (1, 0)
    assert out[2].text_clean == ""
    # empty text splits to one ''-chunk; doc 3 is its first owner
    assert (out[3].n_chunks, out[3].n_kept) == (1, 1)
    assert out[3].text_clean == ""
    with pytest.raises(ValueError):
        dedup.exact_substring_dedup(df, chunk_words=0)


def test_compression_ratio_exact_values(spark):
    """Pin the UDF to in-process zlib: same bytes, same level-6 deflate."""
    import zlib

    from time_series_db_spark.pipeline import text as text_ops

    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "zebras quietly examine forty jugs of vexing liquid nearby and "
        "a small band of wandering minstrels plays an entirely different "
        "melody about rivers mountains harbors and the slow turn of "
        "seasons across a wide and varied countryside full of detail"
    )
    rows = [(0, "abc " * 200), (1, prose), (2, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text_ops.compression_ratio(df).collect()}
    for i, t in rows:
        raw = t.encode("utf-8")
        want = len(zlib.compress(raw, 6)) / len(raw) if raw else 0.0
        assert got[i].ratio == pytest.approx(want, abs=1e-12), i
        assert got[i].n_bytes == len(raw)
    assert got[0].keep is False       # ultra-repetitive → below low bound
    assert got[1].keep is True
    assert got[2].keep is False       # empty → ratio 0.0


def test_quantize_embeddings_error_bound(spark):
    """Round-trip bound: |v_i − q_i·scale| ≤ scale/2 everywhere (half-up
    rounding), all-zero vectors quantize to zeros with scale 0, and q
    stays inside [-127, 127]."""
    from time_series_db_spark.pipeline.ann import quantize_embeddings

    rows = [
        (0, [1.0, -0.5, 0.25, 127.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-3.0, 2.9999, 0.0001, -0.0001]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    for i, v in rows:
        r = out[i]
        assert all(-127 <= q <= 127 for q in r.q)
        if all(x == 0.0 for x in v):
            assert r.scale == 0.0 and all(q == 0 for q in r.q)
            assert r.recon_rmse == 0.0
            continue
        for x, q in zip(v, r.q):
            assert abs(x - q * r.scale) <= r.scale / 2 + 1e-12, (i, x, q)
        import math
        want = math.sqrt(
            sum((x - q * r.scale) ** 2 for x, q in zip(v, r.q)) / len(v)
        )
        assert r.recon_rmse == pytest.approx(want, abs=1e-12)


def test_pca_matches_numpy_and_projects_codegen(spark, sf_dir):
    """pca_fit's distributed covariance path must reproduce numpy PCA on
    the collected corpus exactly (same mean/eigenpairs to fp tolerance),
    and the transform stays shuffle-free codegen column math."""
    import numpy as np

    from time_series_db_spark.pipeline.ann import pca_fit, pca_transform

    embs = _embs(spark, sf_dir).limit(200)
    model = pca_fit(embs, d_in=64, d_out=4)
    X = np.array([r.embedding for r in embs.collect()], dtype=float)
    mean = X.mean(axis=0)
    assert np.allclose(model["mean"], mean, atol=1e-9)
    cov = (X - mean).T @ (X - mean) / len(X)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:4]
    assert np.allclose(model["explained"], evals, atol=1e-9)
    # components are unit-norm eigenvectors of cov
    for c, lam in zip(model["components"], model["explained"]):
        c = np.array(c)
        assert abs(np.linalg.norm(c) - 1.0) < 1e-9
        assert np.allclose(cov @ c, lam * c, atol=1e-7)
    # transform: zero shuffle, values = (v - mean) . c
    out = pca_transform(embs, model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan
    row = out.orderBy("vec_id").first()
    v0 = X[0] - mean
    want = [float(v0 @ np.array(c)) for c in model["components"]]
    got = [row[f"p{k}"] for k in range(4)]
    assert np.allclose(got, want, atol=1e-9)

    with pytest.raises(ValueError, match=">= 2"):
        pca_fit(_embs(spark, sf_dir).limit(1), d_in=64, d_out=2)


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    """Quantized scoring must preserve neighbor quality: recall@5 vs the
    float-exact path >= 0.9 averaged over the query set (64-dim vectors
    lose little cosine precision at int8)."""
    from time_series_db_spark.pipeline.ann import cosine_topk, cosine_topk_int8

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    exact = {}
    for r in cosine_topk(embs, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in cosine_topk_int8(embs, queries, k=5).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(exact) == set(quant)
    recalls = [len(exact[q] & quant[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9, sorted(recalls)[:5]
