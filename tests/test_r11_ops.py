"""Round-11 regression tests: the r10 advisory fixes.

1. minhash_update / ivf_update — duplicate ids inside one delta cannot
   seed duplicate model/index rows (replay / re-crawled batch guard).
2. ivf_kmeans_topk — missing queries= fails with a clear ValueError;
   fit-only knobs are rejected in model= mode instead of silently
   ignored.
3. textprep.rebalance_if_narrow — shuffles a 1-split corpus up to
   defaultParallelism, and is a no-op (same plan object) on an input
   that is already at least that wide.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _words(n, prefix="w"):
    return " ".join(f"{prefix}{i}" for i in range(n))


# ---------------------------------------------------------------------------
# 1. duplicate ids inside one delta
# ---------------------------------------------------------------------------


def test_minhash_update_dedups_delta_ids(spark):
    from time_series_db_spark.pipeline import dedup

    old = spark.createDataFrame(
        [(1, _words(22)), (2, _words(22, "q"))], "doc_id long, text string"
    )
    model = dedup.minhash_fit(old)
    delta = spark.createDataFrame(
        [(3, _words(22, "r")), (3, _words(22, "r")), (1, _words(22, "s"))],
        "doc_id long, text string",
    )
    out = dedup.minhash_update(model, docs=delta)
    counts = {
        r["doc_id"]: r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {1: 1, 2: 1, 3: 1}, "replayed delta ids must not duplicate"


def test_ivf_update_dedups_delta_ids(spark):
    from time_series_db_spark.pipeline import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    model = ann.ivf_fit(corpus, nlist=2, train_iters=1)
    delta = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0]), (100, [1.0, 2.0, 3.0]), (5, [9.0, 9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    out = ann.ivf_update(model, delta)
    counts = {
        r["vec_id"]: r["n"]
        for r in out["cells"]
        .groupBy("vec_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts[100] == 1 and counts[5] == 1
    assert len(counts) == 13  # 12 original + 1 new, id 5 replaced in place


# ---------------------------------------------------------------------------
# 2. ivf_kmeans_topk argument validation
# ---------------------------------------------------------------------------


def test_ivf_kmeans_topk_requires_queries(spark):
    from time_series_db_spark.pipeline import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="queries"):
        ann.ivf_kmeans_topk(corpus)
    model = ann.ivf_fit(corpus, nlist=2, train_iters=1)
    with pytest.raises(ValueError, match="queries"):
        ann.ivf_kmeans_topk(model=model)


def test_ivf_kmeans_topk_rejects_fit_knobs_in_model_mode(spark):
    from time_series_db_spark.pipeline import ann

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.limit(2)
    model = ann.ivf_fit(corpus, nlist=2, train_iters=1)
    with pytest.raises(ValueError, match="nlist"):
        ann.ivf_kmeans_topk(queries=queries, model=model, nlist=32)
    with pytest.raises(ValueError, match="train_iters"):
        ann.ivf_kmeans_topk(queries=queries, model=model, train_iters=9)


# ---------------------------------------------------------------------------
# 3. rebalance_if_narrow
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_classifier_entries_share_one_fit(spark, sf_dir, monkeypatch):
    """Both classifier catalog entries train the IDENTICAL deterministic
    model; the per-corpus-dir memo must make the second entry reuse it
    instead of re-paying the 10 distributed GD rounds (the r10
    verdict's slowest-bench finding)."""
    import time_series_db_spark.catalog_pipeline as cp
    from time_series_db_spark.catalog import QUERIES
    from time_series_db_spark.pipeline import classifier

    monkeypatch.setattr(cp, "_CLS_MODEL_ROWS", {})
    calls = []
    real = classifier.classifier_fit

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(classifier, "classifier_fit", counting)
    a = QUERIES["text_quality_classifier"](spark, sf_dir).collect()
    b = QUERIES["text_classifier_calibration"](spark, sf_dir).collect()
    assert a and b
    assert len(calls) == 1, "second entry must reuse the memoized model"


def test_rebalance_if_narrow_widens_narrow_input(spark):
    from time_series_db_spark.pipeline.textprep import rebalance_if_narrow

    par = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i, "t") for i in range(10)], "id long, text string"
    ).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    out = rebalance_if_narrow(narrow)
    assert out.rdd.getNumPartitions() == par


def test_rebalance_if_narrow_is_noop_on_wide_input(spark):
    from time_series_db_spark.pipeline.textprep import rebalance_if_narrow

    par = spark.sparkContext.defaultParallelism
    wide = spark.createDataFrame(
        [(i, "t") for i in range(100)], "id long, text string"
    ).repartition(par)
    out = rebalance_if_narrow(wide)
    assert out is wide, "already-wide input must skip the shuffle entirely"
