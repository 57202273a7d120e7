"""Text retrieval and importance-weighting operators over the corpus:
BM25 top-k keyword search and DSIR-style importance weights.

Both are pure Catalyst expression pipelines (no UDFs) shaped for a
100 TB corpus: the per-document work is one explode plus partial-combined
hash aggregations keyed by document, and everything model-sized (query
terms, document frequencies, hashed-feature count tables) is broadcast —
the corpus itself never shuffles except keyed by ``doc_id``.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_db_spark.pipeline import textprep


def _norm_terms(query: str) -> list[str]:
    """Python mirror of textprep.normalize + whitespace tokenization for
    the (driver-side, constant) query string: lowercase, trim, collapse
    whitespace, distinct terms sorted for determinism."""
    norm = re.sub(r"\s+", " ", query.lower().strip())
    return sorted({t for t in norm.split(" ") if t})


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents for ``query`` by Okapi BM25 — the lexical
    retrieval baseline every hybrid (BM25 + embedding) search stack
    keeps, and the retrieval leg of contamination / attribution audits
    over a training corpus:

        idf(t)   = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    with ``tf`` the term count in the document, ``dl`` the document's
    token count and ``avgdl``/``N`` corpus statistics. Ties break on
    ``doc_id`` for determinism. Returns (id, score, rank), rank 1..k.

    Scale shape: the exploded token stream is filtered to the query's
    terms BEFORE any shuffle (the corpus pays one scan; only matching
    postings move), term document-frequencies are a ≤|query|-row
    broadcast, the corpus stats are a 1-row broadcast, and the final cut
    is a TakeOrdered top-k — no global sort, no corpus-sized join side.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    terms = _norm_terms(query)
    if not terms:
        raise ValueError("query has no terms after normalization")
    toks = textprep.tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(F.filter(toks, lambda t: t != "")).cast("double").alias("dl"),
        toks.alias("__toks"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = (
        base.select(F.col(id_col), "dl", F.explode("__toks").alias("term"))
        .where(F.col("term").isin(terms))
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("dl").alias("dl"),
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), (idf * tf_part).alias("__s"))
        .groupBy(id_col)
        .agg(F.sum("__s").alias("score"))
    )
    # limit-before-rank: the TakeOrdered cut runs distributed (partial
    # top-k per partition), and the rank window then orders ≤k rows —
    # a bare global row_number window here would sort every scored doc
    # on one partition
    cut = scored.orderBy(F.desc("score"), F.col(id_col)).limit(int(k))
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    return cut.select(
        id_col, "score", F.row_number().over(w).cast("long").alias("rank")
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how much more likely its hashed unigram
    features are under the TARGET distribution than under the raw
    corpus, then resample by weight. ``target_pred`` is a Column
    predicate selecting the in-domain subset (e.g. ``col("lang") ==
    "en"``).

        f(tok)    = hash64(tok) mod n_buckets
        p_X[b]    = (c_X[b] + 1) / (T_X + n_buckets)      (Laplace)
        weight(d) = Σ_tok ( ln p_target[f(tok)] − ln p_raw[f(tok)] )

    Returns (id, n_tokens, weight) for every document with ≥1 token;
    positive weights mark target-like documents. The hash is the
    portable md5-based :func:`textprep.hash64` so a SQL differential
    oracle computes bit-identical bucket ids.

    Scale shape — fit/score split, two corpus passes total: the FIT
    pass aggregates the two count tables (``n_buckets`` rows each —
    fixed-size metadata regardless of corpus size, DSIR's own design
    point: the importance model is hashed so it never grows with the
    data) and collects them driver-side; the log-ratio lookup table
    then folds into the SCORE pass as a literal array (like
    :func:`~time_series_db_spark.pipeline.ann.pca_transform`'s basis),
    so scoring is one explode + one per-document aggregation in pure
    whole-stage codegen — no join, no broadcast exchange, and no third
    scan for the totals (which a totals-subquery formulation would
    recompute from scratch).
    """
    import math

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    nb = int(n_buckets)
    bucket = textprep.hash64(F.col("token")) % F.lit(nb)
    toks = (
        df.select(
            F.col(id_col),
            target_pred.alias("__is_target"),
            F.explode(textprep.tokens(F.col(text_col))).alias("token"),
        )
        .where(F.col("token") != "")
        .withColumn("bucket", bucket)
    )
    counts = {
        r["bucket"]: (r["c_t"], r["c_r"])
        for r in toks.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__is_target"), 1).otherwise(0))
            .cast("double")
            .alias("c_t"),
            F.count(F.lit(1)).cast("double").alias("c_r"),
        )
        .collect()
    }
    t_t = sum(c for c, _ in counts.values())
    t_r = sum(c for _, c in counts.values())
    lut = F.array(
        *[
            F.lit(
                math.log(
                    (counts.get(b, (0.0, 0.0))[0] + 1.0) / (t_t + nb)
                )
                - math.log(
                    (counts.get(b, (0.0, 0.0))[1] + 1.0) / (t_r + nb)
                )
            )
            for b in range(nb)
        ]
    )
    return (
        toks.select(
            F.col(id_col),
            F.element_at(lut, (F.col("bucket") + 1).cast("int")).alias("lr"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr").alias("weight"),
        )
    )


def sample_temperature(
    df: DataFrame,
    alpha: float = 0.5,
    budget: int = 100,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-balanced mixture sample: per-stratum quotas
    proportional to ``n_s^alpha`` (the multilingual up-sampling rule of
    XLM-R / mT5, arXiv:1911.02116 §3.1 — ``alpha < 1`` flattens the
    head so low-resource strata are over-represented relative to their
    raw share), apportioned exactly with largest-remainder and drawn in
    the fixed md5(id) order shared by every sampler here.

    Output: (id, stratum, sample_rank, target_n) — a thin composition:
    one metadata-sized count aggregate feeds :func:`pack.apportion`,
    then :func:`pack.sample_mixture` does the WindowGroupLimit-shaped
    draw, so the corpus pays one count scan plus one partial top-n.
    """
    from time_series_db_spark.pipeline import pack

    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = {
        r["stratum"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    weights = {s: float(n) ** float(alpha) for s, n in counts.items()}
    return pack.sample_mixture(
        df, weights, budget, strata_col=strata_col, id_col=id_col
    )


def bm25_prf_rerank(
    docs: DataFrame,
    embs: DataFrame,
    query: str,
    k: int = 5,
    n_short: int = 20,
    n_seed: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage hybrid retrieval — the lexical-then-dense stack every
    RAG deployment runs: BM25 shortlists ``n_short`` documents, a dense
    query vector is formed as the exact-decimal centroid of the top
    ``n_seed`` hits' embeddings (Rocchio-style pseudo-relevance
    feedback — no query encoder needed at audit time), and the
    shortlist reranks by cosine to that centroid.  Output:
    ``(id_col, bm25_score, cosine, rank)``, rank 1..k by cosine (ties
    on id).  Shortlist documents without an embedding row drop out
    before rerank (they cannot be scored).

    100 TB shape: stage 1 is :func:`bm25_topk`'s
    postings-filtered-before-shuffle plan with a TakeOrdered cut; stage
    2 touches ONLY the ≤n_short shortlist — its embedding join
    broadcasts the shortlist ids against the embeddings scan, the
    centroid is a dim-keyed exact aggregate of ≤n_seed rows, and the
    rerank is a broadcast of one centroid row.  The corpus is never
    rescanned densely.
    """
    from time_series_db_spark.pipeline.dedup import cosine_expr

    if n_seed <= 0 or n_seed > n_short or k > n_short:
        raise ValueError("need 0 < n_seed <= n_short and k <= n_short")
    short = bm25_topk(
        docs, query, k=n_short, k1=k1, b=b,
        id_col=id_col, text_col=text_col,
    )
    e = embs.select(
        F.col(vec_id_col).alias(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    # pinned: ≤ n_short rows after the broadcast join, but its plan
    # embeds the whole BM25 shortlist pipeline — both consumers (the
    # PRF centroid and the rerank) otherwise re-execute it per action
    from time_series_db_spark.cache import persist_tracked

    se = persist_tracked(
        e.join(
            F.broadcast(short.withColumnRenamed("rank", "__brank")), id_col
        )
    )
    seed_dims = (
        se.filter(F.col("__brank") <= n_seed)
        .select(F.posexplode("__v").alias("__dim", "__x"))
        .groupBy("__dim")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(27,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
    )
    centroid = (
        seed_dims.groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))).alias("__pm")
        )
        .select(
            F.transform("__pm", lambda s: s.getField("__m")).alias("__q")
        )
    )
    rer = se.crossJoin(F.broadcast(centroid)).select(
        F.col(id_col),
        F.col("score").alias("bm25_score"),
        cosine_expr(F.col("__q"), F.col("__v")).alias("cosine"),
    )
    w = Window.orderBy(F.desc("cosine"), F.col(id_col))
    return (
        rer.orderBy(F.desc("cosine"), F.col(id_col))
        .limit(int(k))
        .select(
            id_col,
            "bm25_score",
            "cosine",
            F.row_number().over(w).cast("long").alias("rank"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:
    ``score(d) = Σ_lists 1/(k0 + rank_list(d))`` over the lists that
    contain ``d`` — the standard score-free way to merge a lexical and
    a dense ranking (or any heterogeneous rankers) without calibrating
    their score scales against each other.  ``k0 = 60`` is the
    paper's constant.  Returns top-``k`` ``(id, rrf_score, n_lists,
    rank)``; ties break on the id.

    Scale shape: the inputs are ALREADY-CUT top-k tables (metadata
    sized by construction — fusion never touches the corpus); a union
    + one partial-aggregated groupBy(id) computes the fused scores and
    a TakeOrdered cut re-ranks.  With two lists the per-doc sum is a
    commutative two-term add, so fused scores are bit-identical across
    engines and the id tiebreak pins rank order differentially.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k <= 0 or k0 <= 0:
        raise ValueError("rrf_fuse needs k > 0 and k0 > 0")
    from functools import reduce

    from pyspark.sql import Window

    parts = [
        r.select(
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(int(k0)) + F.col(rank_col)).cast("double")
            ).alias("__rr"),
        )
        for r in rankings
    ]
    allr = reduce(lambda a, b: a.unionByName(b), parts)
    fused = allr.groupBy(id_col).agg(
        F.sum("__rr").alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    cut = fused.orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    ).limit(int(k))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return cut.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(id_col, "rrf_score", "n_lists", "rank")


#: max shortlist rows for :func:`mmr_rerank`, whose greedy rounds run
#: on the coordinator over the collected vectors.  MMR is a
#: POST-retrieval diversifier: cut a top-n first (bm25_topk /
#: cosine_topk / rrf_fuse) and rerank THAT.
MAX_MMR_SHORTLIST = 2_000


def _fold_dot(a: list, b: list) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b) -> float | None:
    """:func:`dedup.cosine_expr` on the coordinator: the same sequential
    left fold (Python ``+=`` is the identical IEEE-double fold).  Like
    ``zip_with`` padding a shorter vector with NULL, a NULL vector, a
    NULL element or a length mismatch gives NULL; a zero norm gives NULL
    like ``try_divide``."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    denom = math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
    if denom == 0.0:
        return None
    return _fold_dot(a, b) / denom


def _is_nan(x: float) -> bool:
    return x != x


def _asc(x) -> tuple:
    """Spark's ascending order as a sort key: NULL first, NaN last."""
    return (x is not None, x is not None and _is_nan(x), x)


def _desc(x) -> tuple:
    """Spark's descending order for a double: NaN first, NULL last."""
    return (2, 0.0) if x is None else (0, 0.0) if _is_nan(x) else (1, -x)


def mmr_rerank(
    shortlist: DataFrame,
    embs: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    diversified top-``k`` selection over a retrieval shortlist —
    greedily pick ``argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d,s)``
    so near-duplicate hits stop crowding out coverage (the RAG
    context-window packing step after retrieval).  ``sim`` is embedding
    cosine; round 1's selected set is empty, so its score is ``λ·rel``.
    Returns ``(id, rel, mmr_score, rank)``, rank 1..k, ties on the id.

    Scale shape: the shortlist must be metadata-sized (a prior top-n
    cut); above :data:`MAX_MMR_SHORTLIST` rows it raises ``ValueError``.
    Within that contract the greedy selection is coordinator work by
    construction, so it runs driver-side on ONE bounded collect of
    ``(id, rel, vec)`` — no n² pairwise table, no per-round jobs — with
    the distributed semantics: :func:`_cos`, a per-candidate diversity
    penalty that is a running max skipping NULLs like ``F.max``, and an
    argmax ordered score DESC (NaN largest, NULL last, as Spark orders
    doubles) then id ASC.  Nothing here ever touches the corpus; the
    shortlist ids broadcast into the embeddings scan exactly once.
    """
    if k <= 0 or not 0.0 <= lam <= 1.0:
        raise ValueError("mmr_rerank needs k > 0 and 0 <= lam <= 1")
    from time_series_db_spark.cache import bounded_rows, persist_tracked
    from time_series_db_spark.literals import literal_frame

    cap = MAX_MMR_SHORTLIST
    # pinned: both sides of the join read ONE materialization of the
    # shortlist pipeline; the limit bounds the id broadcast however
    # large the input
    cand = persist_tracked(
        shortlist.select(
            F.col(id_col).alias("__id"),
            F.col(rel_col).cast("double").alias("__rel"),
        ).limit(cap + 1)
    )
    vecs = embs.select(
        F.col(vec_id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).join(F.broadcast(cand.select("__id")), "__id")
    base_rows = bounded_rows(cand.join(vecs, "__id", "left"), cap)
    if base_rows is None:
        raise ValueError(
            f"mmr_rerank scores every remaining candidate in each "
            f"coordinator round; the shortlist exceeds "
            f"MAX_MMR_SHORTLIST={cap}. Cut a top-n first (bm25_topk / "
            f"ann.cosine_topk / rrf_fuse)."
        )

    lam, inv = float(lam), 1.0 - float(lam)
    pool = [
        {"id": r["__id"], "rel": r["__rel"], "v": r["__v"], "ms": None}
        for r in base_rows
    ]
    rows, last = [], None
    for rank in range(1, int(k) + 1):
        if not pool:
            break
        for c in pool:
            s = None if rank == 1 else _cos(c["v"], last)
            m = c["ms"]
            # F.max semantics: NULLs skipped, NaN greater than all
            if s is not None and (
                m is None or _is_nan(s) or (not _is_nan(m) and s > m)
            ):
                c["ms"] = m = s
            c["score"] = None if c["rel"] is None else (
                lam * c["rel"] - inv * (0.0 if m is None else m)
            )
        best = min(pool, key=lambda c: (_desc(c["score"]), _asc(c["id"])))
        pool.remove(best)
        last = best["v"]
        rows.append((best["id"], best["rel"], best["score"], rank))
    # the id keeps the shortlist's own type (string doc ids work); the
    # rel column keeps the caller's rel_col name
    id_type = shortlist.schema[id_col].dataType.simpleString()
    schema = (
        f"`{id_col}` {id_type}, `{rel_col}` double, mmr_score double, "
        f"rank long"
    )
    return literal_frame(shortlist.sparkSession, rows, schema)


def _ndcg_discounts_nano(k: int) -> list[int]:
    """Rank discounts ``1/log2(rank+1)`` in 1e-9 integer units, computed
    ONCE on the driver and injected as literals into both engines — the
    libm ``log2`` is never evaluated engine-side, so a JVM-vs-DuckDB
    ulp difference in the discount can never split the differential."""
    return [round(1e9 / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_eval(
    ranked: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Ranking-quality evaluation of a search output against relevance
    judgments — recall@k, MRR@k and nDCG@k per query, the standard
    triple (Järvelin & Kekäläinen 2002 for nDCG; every TREC/BEIR
    harness) run before committing a retriever to a RAG or
    hard-negative-mining pipeline.  :func:`ann.recall_at_k` compares an
    ANN index to the exact index; THIS compares a ranking to ground
    truth.

    ``ranked`` carries ``(query_col, doc_col, rank_col)`` with 1-based
    ranks (any search output here: BM25, ANN, hybrid); ``qrels``
    carries ``(query_col, doc_col, rel_col)`` integer gains ≥ 0
    (binary judgments are ``rel = 1``).  Output, one row per JUDGED
    query (a query with ranked rows but no positive judgments is
    undefined under all three metrics and is absent): ``(query_col,
    n_rel, n_hits, recall_k, mrr_k, ndcg_k)``.

    Engine-exact by construction: gains are integers ``2^rel − 1``,
    discounts are driver-computed 1e-9 integer literals, so DCG and
    ideal DCG are exact integer sums (order-free) and every emitted
    ratio is one division of two exact integers.

    Scale shape: both inputs are judgment/top-k-sized (queries×k rows —
    metadata next to any corpus); two equi-joins on (query, doc) and
    (query), one bounded row_number window over the judgments, partial
    aggregation everywhere; the corpus itself is never touched.
    """
    kk = int(k)
    if kk <= 0:
        raise ValueError(f"k must be positive, got {k}")
    disc = _ndcg_discounts_nano(kk)
    disc_arr = F.array(*[F.lit(d).cast("long") for d in disc])
    gain = (F.pow(F.lit(2.0), F.col(rel_col)) - F.lit(1.0)).cast("long")

    pos = qrels.filter(F.col(rel_col) > 0).select(
        F.col(query_col), F.col(doc_col).alias("__doc"), F.col(rel_col)
    )
    # ideal DCG: judgments sorted by gain desc (doc id tiebreak for
    # determinism), top-k, discount by ideal position
    w = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col("__doc")
    )
    ideal = (
        pos.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk)
        .groupBy(query_col)
        .agg(
            F.sum(gain * F.element_at(disc_arr, F.col("__rn")))
            .alias("__idcg_nano")
        )
    )
    base = pos.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    hits = (
        ranked.filter(F.col(rank_col) <= kk)
        .select(
            F.col(query_col),
            F.col(doc_col).alias("__doc"),
            F.col(rank_col).alias("__rk"),
        )
        .join(pos, [query_col, "__doc"])
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("__rk").cast("long").alias("__first"),
            F.sum(gain * F.element_at(disc_arr, F.col("__rk").cast("int")))
            .alias("__dcg_nano"),
        )
    )
    out = base.join(ideal, query_col).join(hits, query_col, "left")
    return out.select(
        query_col,
        "n_rel",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_rel")).alias(
            "recall_k"
        ),
        F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)).alias("mrr_k"),
        (
            F.coalesce(F.col("__dcg_nano"), F.lit(0)) / F.col("__idcg_nano")
        ).alias("ndcg_k"),
    )
