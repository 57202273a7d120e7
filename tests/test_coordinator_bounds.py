"""Coordinator kernels behind one bounded collect, and the literal plans
they return.

Each kernel with two paths (coordinator below its bound, distributed or
a documented raise above it) is fed the same dirty input — NULLs, NaN,
ragged vectors — once at bound−1 and once at bound+1, and both sides
must agree.  The literal-plan cap is exercised at cap and cap+1.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

NAN = float("nan")


def _spy(monkeypatch, owner, name):
    """Wrap ``owner.name`` so the test can see how often it ran."""
    calls = []
    orig = getattr(owner, name)

    def spy(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(owner, name, spy)
    return calls


def _rows(df):
    # repr: NaN-safe row comparison
    return sorted(repr(tuple(r)) for r in df.collect())


# ---------------------------------------------------------------------------
# engine primitives
# ---------------------------------------------------------------------------


def test_bounded_rows_and_within_bound(spark):
    from time_series_db_spark import cache

    df = spark.range(5)
    assert [r.id for r in cache.bounded_rows(df, 5)] == list(range(5))
    assert cache.bounded_rows(df, 4) is None
    assert cache.bounded_rows(df.limit(0), 0) == []
    # the memo is keyed by the bound: a smaller bound re-probes
    assert cache.within_bound(df, 5, "t")
    assert not cache.within_bound(df, 4, "t")


def test_literal_frame_shares_plan_identity_below_cap(spark):
    from time_series_db_spark.literals import literal_frame

    rows = [(1, "it's", NAN), (None, "a\\b", None), (3, None, -0.0)]
    ddl = "id long, s string, x double"
    a, b = literal_frame(spark, rows, ddl), literal_frame(spark, rows, ddl)
    assert a.semanticHash() == b.semanticHash()
    assert _rows(a) == sorted(repr(r) for r in rows)
    assert literal_frame(spark, [], ddl).collect() == []
    # createDataFrame frames never share one
    c = spark.createDataFrame(rows, ddl)
    assert c.semanticHash() != spark.createDataFrame(rows, ddl).semanticHash()


def test_mock_series_at_cap_and_one_over(spark, monkeypatch):
    """32,768 points are 65,536 literal values (ts and value): a literal
    plan.  One point more falls back to createDataFrame, with the same
    rows."""
    from time_series_db_spark.literals import LITERAL_CAP
    from time_series_db_spark.sources.m3source import synth_mock_series

    n = LITERAL_CAP // 2
    values = [float(i % 97) - 0.5 for i in range(n + 1)]
    values[3] = math.inf
    created = _spy(monkeypatch, SparkSession, "createDataFrame")
    at_cap = synth_mock_series(spark, values[:n], {}, 0, 10, 10)
    assert not created
    over = synth_mock_series(spark, values, {}, 0, 10, 10)
    assert len(created) == 1
    cols = ["ts", "value", "series_key"]
    at_rows = sorted(tuple(r) for r in at_cap.df.select(*cols).collect())
    over_rows = sorted(tuple(r) for r in over.df.select(*cols).collect())
    assert len(at_rows) == n
    assert over_rows[:-1] == at_rows
    again = synth_mock_series(spark, values[:n], {}, 0, 10, 10)
    assert again.df.semanticHash() == at_cap.df.semanticHash()


def test_bloom_bitmap_literal_and_fallback_match_exact(spark, monkeypatch):
    """m_bits=2²² is a 65,536-long bitmap (at the cap, a literal); 2²³
    is over it (createDataFrame).  Both equal plain decontaminate."""
    from time_series_db_spark.pipeline import decontam

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about spark distributed joins"),
            (3, None),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "xx the quick brown fox jumps over the lazy dog yy")],
        "doc_id long, text string",
    )
    exact = _rows(decontam.decontaminate(corpus, evals, n=3))
    created = _spy(monkeypatch, SparkSession, "createDataFrame")
    lit = decontam.bloom_decontaminate(corpus, evals, n=3, m_bits=1 << 22)
    assert not created
    assert _rows(lit) == exact
    fb = decontam.bloom_decontaminate(corpus, evals, n=3, m_bits=1 << 23)
    assert len(created) == 1
    assert _rows(fb) == exact


# ---------------------------------------------------------------------------
# BPE trainer: coordinator vs distributed merge loop
# ---------------------------------------------------------------------------

_BPE_INPUTS = {
    "null_and_blank": [
        (1, None), (2, ""), (3, "   "), (4, "low lower lowest low"),
        (5, "newer wider new"),
    ],
    "ragged_words": [
        (1, "a " + "abcabcabcabcabcabcabcabcabcabc" * 2),
        (2, "ab abc abcd abcde abcdef a a a"), (3, None),
    ],
    "quotes_and_unicode": [
        (1, "it's it's 'quoted' back\\slash back\\slash"),
        (2, "ünï ünï 日本語 日本 NaN nan NaN"), (3, None),
    ],
}


@pytest.mark.parametrize("case", sorted(_BPE_INPUTS))
def test_bpe_paths_agree_on_dirty_input(spark, monkeypatch, case):
    from time_series_db_spark.pipeline import bpe

    docs = spark.createDataFrame(_BPE_INPUTS[case], "doc_id long, text string")
    n_words = bpe._word_freq(docs, "text").count()
    local = _spy(monkeypatch, bpe, "_train_rounds_local")
    out = {}
    for side in (-1, 1):  # the word table at bound-1 / bound+1
        monkeypatch.setattr(bpe, "_DRIVER_TRAIN_MAX_WORDS", n_words - side)
        merges, wf = bpe.bpe_train(docs, n_merges=12)
        out[side] = (merges, _rows(wf.select("__w", "__f", "__seq")))
        frame = bpe.bpe_merges(docs, n_merges=12)
        assert sorted(tuple(r) for r in frame.collect()) == merges
    assert len(local) == 2  # bpe_train + bpe_merges, below the bound only
    assert out[-1] == out[1]
    assert len(out[1][0]) > 0


# ---------------------------------------------------------------------------
# connected components: union-find vs min-label propagation
# ---------------------------------------------------------------------------


def _rows_of(rows):
    return sorted(repr(tuple(r)) for r in rows)


def _labels_of(rows) -> dict:
    # every NaN id maps to the one NaN key of the expectations
    return {(NAN if r["id"] != r["id"] else r["id"]): r["comp"] for r in rows}


_CC_INPUTS = {
    "null_endpoints": (
        "long",
        [(1, 2), (2, None), (None, 3), (None, None), (3, 4), (10, 11)],
        {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10},
    ),
    "nan_ids": (
        "double",
        [(1.0, NAN), (NAN, 5.0), (2.0, 3.0), (NAN, NAN), (None, 2.0)],
        {1.0: 1.0, NAN: 1.0, 5.0: 1.0, 2.0: 2.0, 3.0: 2.0},
    ),
    "string_ids": (
        "string",
        [("b", "a"), ("c", None), ("c", "d"), ("é", "e")],
        {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "é": "e"},
    ),
    "chain_of_20": (
        "long",
        [(i + 1, i) for i in range(19)],
        {i: 0 for i in range(20)},
    ),
}


@pytest.mark.parametrize("case", sorted(_CC_INPUTS))
def test_connected_components_paths_agree_on_dirty_input(
    spark, monkeypatch, case
):
    from time_series_db_spark.pipeline import dedup

    idt, edges, expected = _CC_INPUTS[case]
    df = spark.createDataFrame(edges, f"id_a {idt}, id_b {idt}")
    n_edges = sum(a is not None and b is not None for a, b in edges)
    local = _spy(monkeypatch, dedup, "_union_find")
    out = {}
    for side in (-1, 1):  # the edge set at bound-1 / bound+1
        monkeypatch.setattr(dedup, "_CC_COORD_MAX_EDGES", n_edges - side)
        out[side] = dedup.connected_components(df).collect()
    assert len(local) == 1
    assert _rows_of(out[-1]) == _rows_of(out[1])
    got = _labels_of(out[1])
    assert got.keys() == expected.keys()
    for node, comp in expected.items():
        assert repr(got[node]) == repr(comp)


def test_connected_components_chain_past_round_cap(spark, monkeypatch):
    """A 31-node chain (diameter 30) needs more propagation rounds than
    the cap: the distributed loop raises instead of returning a partial
    labelling; the union-find labels every node 0."""
    from time_series_db_spark.pipeline import dedup

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(30)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "_CC_COORD_MAX_EDGES", 31)
    assert _labels_of(dedup.connected_components(chain).collect()) == {
        i: 0 for i in range(31)
    }
    monkeypatch.setattr(dedup, "_CC_COORD_MAX_EDGES", 29)
    with pytest.raises(dedup.ComponentsNotConverged):
        dedup.connected_components(chain)


# ---------------------------------------------------------------------------
# MMR: coordinator selection vs the distributed formulation
# ---------------------------------------------------------------------------

_MMR_INPUTS = {
    "null_vectors_and_elements": (
        [(0, 1.0), (1, 0.95), (2, 0.9), (3, 0.85), (4, 0.8), (5, 0.7)],
        [(0, [1.0, 0.0]), (1, [1.0, None]), (2, None), (3, [0.9, 0.1]),
         (4, [0.0, 1.0]), (5, [0.6, 0.8])],
    ),
    "nan_and_null_relevance": (
        [(0, 1.0), (1, NAN), (2, None), (3, 0.5), (4, 0.4)],
        [(0, [1.0, 0.0]), (1, [NAN, 1.0]), (2, [0.0, 1.0]),
         (3, [1.0, 0.01]), (4, [0.0, 0.0])],
    ),
    "ragged_vectors": (
        [(0, 1.0), (1, 0.9), (2, 0.8), (3, 0.7)],
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0]),
         (3, [1.0])],
    ),
}


def _mmr_distributed(short, embs, k, lam):
    """The distributed formulation: a pairwise cosine table
    (dedup.cosine_expr) and one argmax job per selection."""
    from time_series_db_spark.pipeline.dedup import cosine_expr

    base = short.select(
        F.col("doc_id").alias("id"), F.col("rel").cast("double")
    ).join(
        embs.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v")
        ),
        "id",
        "left",
    )
    sims = base.alias("c").crossJoin(base.alias("s")).select(
        F.col("c.id").alias("cid"),
        F.col("s.id").alias("sid"),
        cosine_expr(F.col("c.v"), F.col("s.v")).alias("sim"),
    )
    picked, out = [], []
    for rank in range(1, k + 1):
        pool = base.filter(~F.col("id").isin(picked)) if picked else base
        pen = (
            sims.filter(F.col("sid").isin(picked))
            .groupBy("cid")
            .agg(F.max("sim").alias("ms"))
        )
        scored = pool.join(pen, pool["id"] == pen["cid"], "left").select(
            "id",
            "rel",
            (
                F.lit(lam) * F.col("rel")
                - F.lit(1.0 - lam) * F.coalesce(F.col("ms"), F.lit(0.0))
            ).alias("score"),
        )
        best = scored.orderBy(F.desc("score"), F.asc("id")).limit(1).collect()
        if not best:
            break
        picked.append(best[0]["id"])
        out.append((best[0]["id"], best[0]["rel"], best[0]["score"], rank))
    return sorted(repr(r) for r in out)


@pytest.mark.parametrize("case", sorted(_MMR_INPUTS))
def test_mmr_paths_agree_on_dirty_input(spark, monkeypatch, case):
    from time_series_db_spark.pipeline import retrieval

    short_rows, emb_rows = _MMR_INPUTS[case]
    short = spark.createDataFrame(short_rows, "doc_id long, rel double")
    embs = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    )
    k = len(short_rows) - 1
    # shortlist at bound-1: coordinator selection
    monkeypatch.setattr(retrieval, "MAX_MMR_SHORTLIST", len(short_rows) + 1)
    got = _rows(retrieval.mmr_rerank(short, embs, k=k, lam=0.5))
    assert got == _mmr_distributed(short, embs, k, 0.5)
    # shortlist at bound+1: the documented refusal
    monkeypatch.setattr(retrieval, "MAX_MMR_SHORTLIST", len(short_rows) - 1)
    with pytest.raises(ValueError, match="MAX_MMR_SHORTLIST"):
        retrieval.mmr_rerank(short, embs, k=k, lam=0.5)
