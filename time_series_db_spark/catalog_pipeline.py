"""Catalog entries for the training-data pipeline operators.

Each entry pairs the Spark implementation (``pipeline/``) with a DuckDB
oracle that re-derives the *same algorithm* in ANSI-ish SQL — portable
md5-based hashing and sequential left-fold float reductions keep the two
engines bit-identical, so the differential gate is exact, not
tolerance-based.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from time_series_db_spark.catalog import ORACLES, quant, register, sql_quant
from time_series_db_spark.literals import literal_frame
from time_series_db_spark.pipeline import ann, dedup, multimodal, text, textprep
from time_series_db_spark.pipeline.textprep import (
    FP_BASE,
    FP_MOD,
    SQL_NORMALIZE,
    SQL_TOKENS,
    sql_hash64,
    sql_word_shingles,
)
from time_series_db_spark.sources import load_table

_NORM = SQL_NORMALIZE.format(c="text")
_TOKS = SQL_TOKENS.format(c="text")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    f"""WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
    SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS dup_count
    FROM n GROUP BY norm""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text, min-id survivor."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _sql_minhash_sig_cte(k: int = 3) -> str:
    """CTEs: toks → tokh (token hashes) → sh (shingle-hash sets) → sig
    (16 min-hashes) → bands.

    Mirrors dedup.minhash_signatures exactly: one md5 base hash per
    TOKEN (mod 2^30), shingle hashes as polynomial folds of k
    consecutive token hashes mod FP_MOD, then affine permutations.
    """
    fold = (
        "list_reduce(list_prepend(0::BIGINT, {lst}), "
        f"(acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD})"
    )
    win = fold.format(lst=f"th[i:i+{k - 1}]")
    whole = fold.format(lst="th")
    shingles = (
        f"list_distinct(CASE WHEN len(th) >= {k} THEN "
        f"[{win} for i in generate_series(1, len(th) - {k - 1})] "
        f"ELSE [{whole}] END)"
    )
    sig_cols = ",\n    ".join(
        f"list_min([({dedup.PERM_A[p]} * s + {dedup.PERM_B[p]}) % {FP_MOD} "
        f"for s in shingles]) AS sig{p}"
        for p in range(dedup.NUM_PERMS)
    )
    rows = dedup.NUM_PERMS // dedup.NUM_BANDS
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM sig".format(
            b=b,
            parts=" || ',' || ".join(
                f"sig{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(dedup.NUM_BANDS)
    )
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tokh AS (SELECT doc_id,
         [({sql_hash64('tok', 'mh')} % {dedup.BASE_MOD}) for tok in t] AS th
         FROM toks),
sh AS (SELECT doc_id, {shingles} AS shingles FROM tokh),
sig AS (SELECT doc_id, shingles, {sig_cols} FROM sh),
bands AS (
{band_rows}
)"""


@register(
    "dedup_minhash_lsh",
    f"""WITH {_sql_minhash_sig_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.shingles, sb.shingles)) * 1.0
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, {sql_quant('jaccard')} AS jaccard
    FROM verified WHERE jaccard >= 0.8""",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(4×4) banding, exact-Jaccard verified at ≥0.8."""
    pairs = dedup.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.8)
    return pairs.select("id_a", "id_b", quant(F.col("jaccard")).alias("jaccard"))


@register(
    "chunk_documents",
    f"""WITH base AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t <> '') AS tok
      FROM documents),
    starts AS (
      SELECT doc_id, tok,
             [s for s in generate_series(0, len(tok) - 1, 96)
              if s = 0 OR s - 96 + 128 < len(tok)] AS ss
      FROM base WHERE len(tok) > 0),
    ex AS (
      SELECT doc_id, tok, unnest(ss) AS start_token,
             generate_subscripts(ss, 1) - 1 AS chunk_idx
      FROM starts)
    SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           start_token::BIGINT AS start_token,
           len(tok[start_token + 1:start_token + 128])::BIGINT AS n_tokens,
           array_to_string(tok[start_token + 1:start_token + 128], ' ')
             AS chunk_text
    FROM ex""",
)
def chunk_documents(spark, sf_dir):
    """RAG chunking (pipeline/pack.py:chunk_documents): 128-token
    windows at stride 96 (overlap 32), short fully-covered tails
    skipped — one posexplode inside codegen, zero shuffle."""
    from time_series_db_spark.pipeline import pack

    return pack.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=128, overlap=32
    )


@register(
    "dedup_cross_corpus",
    f"""WITH {_sql_minhash_sig_cte()},
    refb AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
    inb AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
    cand AS (
      SELECT DISTINCT i.doc_id AS doc_id, r.doc_id AS ref_id
      FROM inb i JOIN refb r ON i.band = r.band AND i.bucket = r.bucket),
    verified AS (
      SELECT c.doc_id, c.ref_id,
             len(list_intersect(si.shingles, sr.shingles)) * 1.0
               / (len(si.shingles) + len(sr.shingles)
                  - len(list_intersect(si.shingles, sr.shingles))) AS jaccard
      FROM cand c
      JOIN sig si ON si.doc_id = c.doc_id
      JOIN sig sr ON sr.doc_id = c.ref_id),
    hits AS (SELECT * FROM verified WHERE jaccard >= 0.8)
    SELECT doc_id, min(ref_id) AS ref_id,
           {sql_quant('min_by(jaccard, ref_id)')} AS jaccard,
           count(*)::BIGINT AS n_matches
    FROM hits GROUP BY doc_id""",
)
def dedup_cross_corpus(spark, sf_dir):
    """Incremental-crawl dedup (pipeline/dedup.py:cross_corpus_dedup):
    incoming docs (doc_id % 3 ≠ 0) near-duplicating the reference set
    (doc_id % 3 = 0) via a two-corpus MinHash-LSH band equi-join, exact
    Jaccard verify at ≥0.8, min-ref-id witness per flagged doc."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    inc = docs.filter(F.col("doc_id") % 3 != 0)
    out = dedup.cross_corpus_dedup(inc, ref, threshold=0.8)
    return out.select(
        "doc_id", "ref_id", quant(F.col("jaccard")).alias("jaccard"),
        "n_matches",
    )


@register(
    "dedup_xcorpus_prebuilt",
    f"""WITH {_sql_minhash_sig_cte()},
    refb AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
    inb AS (SELECT * FROM bands WHERE doc_id % 4 <> 0),
    cand AS (
      SELECT DISTINCT i.doc_id AS doc_id, r.doc_id AS ref_id
      FROM inb i JOIN refb r ON i.band = r.band AND i.bucket = r.bucket),
    verified AS (
      SELECT c.doc_id, c.ref_id,
             len(list_intersect(si.shingles, sr.shingles)) * 1.0
               / (len(si.shingles) + len(sr.shingles)
                  - len(list_intersect(si.shingles, sr.shingles))) AS jaccard
      FROM cand c
      JOIN sig si ON si.doc_id = c.doc_id
      JOIN sig sr ON sr.doc_id = c.ref_id),
    hits AS (SELECT * FROM verified WHERE jaccard >= 0.8)
    SELECT doc_id, min(ref_id) AS ref_id,
           {sql_quant('min_by(jaccard, ref_id)')} AS jaccard,
           count(*)::BIGINT AS n_matches
    FROM hits GROUP BY doc_id""",
)
def dedup_xcorpus_prebuilt(spark, sf_dir):
    """The fit/apply split of incremental-crawl dedup
    (pipeline/dedup.py:minhash_fit + cross_corpus_dedup(model=…)): the
    reference corpus' signature table is built ONCE (at 100 TB: written
    to parquet) and the snapshot dedups against it via ``model=`` —
    cross_corpus_dedup never re-computes the reference signatures (the
    bpe_train/bpe_apply shape; no-recompute pinned by monkeypatch
    test).  The oracle replays the same math on the %4 corpus split —
    the split changes which side pays the signature scan, not the
    flagged rows."""
    docs = _docs(spark, sf_dir)
    model = dedup.minhash_fit(docs.filter(F.col("doc_id") % 4 == 0))
    inc = docs.filter(F.col("doc_id") % 4 != 0)
    out = dedup.cross_corpus_dedup(inc, model=model, threshold=0.8)
    return out.select(
        "doc_id", "ref_id", quant(F.col("jaccard")).alias("jaccard"),
        "n_matches",
    )



def _dedup_xcorpus_update_oracle() -> str:
    return f"""WITH {_sql_minhash_sig_cte()},
    refb AS (SELECT * FROM bands WHERE doc_id % 4 IN (0, 1)),
    inb AS (SELECT * FROM bands WHERE doc_id % 4 IN (2, 3)),
    cand AS (
      SELECT DISTINCT i.doc_id AS doc_id, r.doc_id AS ref_id
      FROM inb i JOIN refb r ON i.band = r.band AND i.bucket = r.bucket),
    verified AS (
      SELECT c.doc_id, c.ref_id,
             len(list_intersect(si.shingles, sr.shingles)) * 1.0
               / (len(si.shingles) + len(sr.shingles)
                  - len(list_intersect(si.shingles, sr.shingles))) AS jaccard
      FROM cand c
      JOIN sig si ON si.doc_id = c.doc_id
      JOIN sig sr ON sr.doc_id = c.ref_id),
    hits AS (SELECT * FROM verified WHERE jaccard >= 0.8)
    SELECT doc_id, min(ref_id) AS ref_id,
           {sql_quant('min_by(jaccard, ref_id)')} AS jaccard,
           count(*)::BIGINT AS n_matches
    FROM hits GROUP BY doc_id"""


@register("dedup_xcorpus_update", _dedup_xcorpus_update_oracle())
def dedup_xcorpus_update(spark, sf_dir):
    """Incremental model maintenance (pipeline/dedup.py:minhash_update):
    the accumulated corpus' minhash_fit model absorbs a crawl delta
    (docs %4 = 1 join the %4 = 0 reference; signatures computed for the
    DELTA only) and the next snapshot (%4 in 2,3) dedups against the
    updated model.  The oracle refits the whole reference side from
    scratch — the driver hash-match IS the update == refit equality
    proof, the same construction pipeline_curate_incremental uses."""
    docs = _docs(spark, sf_dir)
    model = dedup.minhash_fit(docs.filter(F.col("doc_id") % 4 == 0))
    model = dedup.minhash_update(
        model, docs=docs.filter(F.col("doc_id") % 4 == 1)
    )
    inc = docs.filter(F.col("doc_id") % 4 >= 2)
    out = dedup.cross_corpus_dedup(inc, model=model, threshold=0.8)
    return out.select(
        "doc_id", "ref_id", quant(F.col("jaccard")).alias("jaccard"),
        "n_matches",
    )


def _sql_simhash_cte() -> str:
    bits = dedup.SIMHASH_BITS
    votes = ",\n      ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)::BIGINT" for j in range(bits)
    )
    band_w = bits // 3
    mask = (1 << band_w) - 1
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS band, (simhash >> {i * band_w}) & {mask} AS key FROM fp"
        for i in range(3)
    )
    return f"""
toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
hashed AS (SELECT doc_id, {sql_hash64('tok', 'sim')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS simhash FROM votes),
bands AS (
{band_rows}
)"""


@register(
    "dedup_simhash",
    f"""WITH {_sql_simhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS fa, b.simhash AS fb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(fa, fb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3""",
)
def dedup_simhash(spark, sf_dir):
    """48-bit SimHash, 16-bit band blocking, Hamming ≤ 3."""
    return dedup.simhash_dedup_pairs(_docs(spark, sf_dir), max_hamming=3)


@register(
    "dedup_simhash_capped",
    f"""WITH {_sql_simhash_cte()},
    occ AS (SELECT band, key, count(*) AS n FROM bands GROUP BY band, key),
    kept AS (
      SELECT b.doc_id, b.simhash, b.band, b.key
      FROM bands b JOIN occ o ON b.band = o.band AND b.key = o.key
      WHERE o.n <= 16),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS fa, b.simhash AS fb
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(fa, fb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3""",
)
def dedup_simhash_capped(spark, sf_dir):
    """The simhash scale path (r13 occupancy-knob audit): the same
    48-bit fingerprint/banding with the ``max_bucket`` stop-band cap —
    band values hotter than the cap are boilerplate clusters, not
    near-dup evidence, and the uncapped self-join measured 2.44B pairs
    with a 30k-doc hot bucket at 500k docs (scripts/
    scale_r13_banded.json).  The gate entry pins cap=16, which BINDS at
    this corpus (occupancy reaches 30 at sf0.01), so the differential
    certifies the drop path, not a vacuous no-op; production uses 128
    (above any true clique, below fleet-wide patterns).  The oracle
    unrolls the identical occupancy filter ahead of the band join."""
    return dedup.simhash_dedup_pairs(
        _docs(spark, sf_dir), max_hamming=3, max_bucket=16
    )


@register(
    "dedup_ngram_jaccard",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {sql_word_shingles('t', 2)} AS shingles FROM toks),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    flat AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) * 1.0 AS c
      FROM flat a JOIN flat b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, {sql_quant('c / (na.n + nb.n - c)')} AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE c / (na.n + nb.n - c) >= 0.7""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-bigram Jaccard ≥ 0.7 via shingle equi-join."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.7)
    return pairs.select("id_a", "id_b", quant(F.col("jaccard")).alias("jaccard"))


#: sequential left-fold dot product — mirrors dedup._dot_fold exactly
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, "
        f"[({a})[i] * ({b})[i] for i in generate_series(1, len({a}))]), "
        f"(acc, x) -> acc + x)"
    )


def _sql_cosine(a: str, b: str) -> str:
    # nullif mirrors cosine_expr's try_divide: zero vector -> NULL cosine
    return (
        f"({_sql_dot(a, b)} / "
        f"nullif(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}), 0.0))"
    )


def _sql_bucket(v: str, num_planes: int = ann.NUM_PLANES, start_plane: int = 0) -> str:
    """DuckDB rendering of ann.hyperplane_bucket (integer-exact)."""
    qv = f"[floor(({v})[i] * 1000 + 0.5)::BIGINT for i in generate_series(1, len({v}))]"
    terms = []
    for p in range(num_planes):
        plane = start_plane + p
        dot = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"[q[i] * ((({97 * plane} + 13 * (i - 1)) % 19) - 9) "
            f"for i in generate_series(1, len(q))]), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2**p} ELSE 0 END)::BIGINT")
    return f"(SELECT {' + '.join(terms)} FROM (SELECT {qv} AS q))"


#: per-band signature CTE mirroring dedup.embedding_neardup_pairs banding
#: corpus-parameterized band signatures (r12, ADVICE fix): the plane
#: count per band is computed IN SQL with the same formula the Spark
#: side's ``planes_per_band="auto"`` uses — ``greatest(4,
#: ceil(log2(n/32)))`` — so the oracle replays the auto-scaled banding
#: at ANY corpus size instead of silently diverging past 512 vectors.
#: (log2 of the count ratio is float-exact at power-of-two boundaries,
#: and both sides evaluate the identical double expression; parity is
#: pinned by tests/test_r12_ops.py across plane counts.)  The per-plane
#: term is masked by ``p < planes`` rather than unrolled, supporting up
#: to 16 planes/band (occupancy-32 banding for ~2M vectors); past that
#: the np subquery raises via ``error()`` (r13, ADVICE fix) instead of
#: silently dropping the top plane bits, so an over-cap corpus fails
#: the differential loudly rather than diverging quietly.
_EMB_SIG = f"""
  SELECT vec_id, band,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
  FROM (
    SELECT qe.vec_id, bb.band, pp.p,
      list_reduce(list_prepend(0::BIGINT,
        [qe.q[i] * (((97*(bb.band*np.planes + pp.p) + 13*(i-1)) % 19) - 9)
         for i in generate_series(1, len(qe.q))]), (acc,x) -> acc + x) AS dot
    FROM (SELECT vec_id,
                 [floor((embedding::DOUBLE[])[i]*1000 + 0.5)::BIGINT
                  for i in generate_series(1, len(embedding::DOUBLE[]))] AS q
          FROM embeddings) qe
    CROSS JOIN (SELECT CASE WHEN planes > 16 THEN CAST(error(
                         'embedding-LSH oracle: ' || planes ||
                         ' planes/band exceeds the 16-plane unroll cap'
                         || ' (corpus > ~2.1M vectors) - widen the'
                         || ' generate_series in _EMB_SIG') AS BIGINT)
                       ELSE planes END AS planes
                FROM (SELECT greatest(4,
                             CAST(ceil(log2(count(*)/32.0)) AS BIGINT))
                      AS planes FROM embeddings)) np
    CROSS JOIN generate_series(0, {dedup.EMB_BANDS - 1}) AS bb(band)
    CROSS JOIN generate_series(0, 15) AS pp(p)
    WHERE pp.p < np.planes
  ) GROUP BY vec_id, band
"""


@register(
    "dedup_embedding_cosine",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS ({_EMB_SIG}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, {sql_quant(_sql_cosine('ea.v', 'eb.v'))} AS cosine
    FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
    WHERE {_sql_cosine('ea.v', 'eb.v')} >= 0.45""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup via banded hyperplane LSH (the scale path):
    candidates restricted to pairs colliding in ≥1 of 6 bands, exact
    cosine ≥ 0.45 on the candidate set.  ``planes_per_band="auto"``
    holds bucket occupancy ~constant as the corpus grows (r11 exponent
    fix); the oracle SQL computes the SAME ``greatest(4,
    ceil(log2(n/32)))`` plane count from the corpus (r12 ADVICE fix),
    so the differential contract holds at any scale — not just the
    ≤512-vector range where auto collapses to the old fixed-4 config."""
    pairs = dedup.embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.45, planes_per_band="auto"
    )
    return pairs.select("id_a", "id_b", quant(F.col("cosine")).alias("cosine"))


# ---------------------------------------------------------------------------
# similarity search (ANN)
# ---------------------------------------------------------------------------

_SQL_E = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


@register(
    "ann_cosine_topk",
    f"""WITH e AS ({_SQL_E}),
    q AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for every 50th vector as query."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.cosine_topk(embs, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


@register(
    "ann_lsh_topk",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_sql_bucket('embedding::DOUBLE[]')} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id, v, bucket FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5""",
)
def ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH-bucketed cosine top-5 (the bounded-candidate path)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.lsh_bucketed_topk(embs, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


@register(
    "embedding_matryoshka",
    f"""WITH me AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:8] AS p,
             embedding::DOUBLE[] AS v
      FROM embeddings),
    mn AS (
      SELECT vec_id, p, {_sql_dot('p', 'p')} AS pe, {_sql_dot('v', 'v')} AS fe
      FROM me),
    mu AS (
      SELECT vec_id,
             unnest(generate_series(0, len(p) - 1)) AS dim,
             unnest(p) AS x, pe, fe
      FROM mn)
    SELECT vec_id, dim::BIGINT AS dim,
           {sql_quant('x / nullif(sqrt(pe), 0.0)')} AS value,
           {sql_quant('coalesce(pe / nullif(fe, 0.0), 0.0)')} AS energy
    FROM mu""",
)
def embedding_matryoshka(spark, sf_dir):
    """Matryoshka prefix truncation
    (pipeline/ann.py:matryoshka_truncate, Kusupati et al. 2022): first
    8 dims kept and L2-renormalized — the cheap-index representation
    for MRL-trained embeddings — plus the retained-energy diagnostic
    ‖prefix‖²/‖full‖².  Pure per-row arithmetic on one scan, exploded
    to scalar rows for the differential."""
    out = ann.matryoshka_truncate(_embs(spark, sf_dir), dims_keep=8)
    return out.select(
        "vec_id", "dim",
        quant(F.col("value")).alias("value"),
        quant(F.col("energy")).alias("energy"),
    )


@register(
    "ann_lsh_recall",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_sql_bucket('embedding::DOUBLE[]')} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id, v, bucket FROM e WHERE vec_id % 50 = 0),
    ex_r AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cosine('q.v', 'c.v')} DESC, c.vec_id
             ) AS rank
      FROM q JOIN e c ON c.vec_id <> q.vec_id),
    ex AS (SELECT query_id, neighbor_id FROM ex_r WHERE rank <= 5),
    ap_r AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cosine('q.v', 'c.v')} DESC, c.vec_id
             ) AS rank
      FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
    ap AS (SELECT query_id, neighbor_id FROM ap_r WHERE rank <= 5)
    SELECT ex.query_id,
           count(*)::BIGINT AS n_exact,
           sum(CASE WHEN ap.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_hit,
           {sql_quant('sum(CASE WHEN ap.neighbor_id IS NOT NULL '
                      'THEN 1.0 ELSE 0.0 END) / count(*)')} AS recall
    FROM ex LEFT JOIN ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1""",
)
def ann_lsh_recall(spark, sf_dir):
    """ANN quality certification as a first-class operator
    (pipeline/ann.py:recall_at_k): per-query recall@5 of the
    LSH-bucketed search against the brute-force baseline — the
    silent-miss metric an index deployment monitors.  Both inputs are
    already-cut top-k tables, so the metric is two key-partitioned
    equi-joins over queries×k rows; the corpus is touched only by the
    searches themselves."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    exact = ann.cosine_topk(embs, queries, k=5)
    approx = ann.lsh_bucketed_topk(embs, queries, k=5)
    out = ann.recall_at_k(approx, exact, k=5)
    return out.select(
        "query_id", "n_exact", "n_hit",
        quant(F.col("recall")).alias("recall"),
    )


def _eval_disc_sql(k: int) -> str:
    """The shared driver-computed discount literals (see
    retrieval._ndcg_discounts_nano) as a DuckDB list literal."""
    from time_series_db_spark.pipeline.retrieval import _ndcg_discounts_nano

    return "[" + ", ".join(f"{d}::BIGINT" for d in _ndcg_discounts_nano(k)) + "]"


@register(
    "search_eval_metrics",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                   FROM embeddings),
    q AS (SELECT vec_id, v, label FROM e WHERE vec_id % 50 = 0),
    rk AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_cosine('q.v', 'c.v')} DESC, c.vec_id
               ) AS rank
        FROM q JOIN e c ON c.vec_id <> q.vec_id)
      WHERE rank <= 10),
    qrels AS (
      SELECT q.vec_id AS query_id, c.vec_id AS doc,
             CASE WHEN c.vec_id % 2 = q.vec_id % 2 THEN 2 ELSE 1 END AS rel
      FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id),
    disc AS (SELECT {_eval_disc_sql(10)} AS d),
    ideal AS (
      SELECT query_id,
             sum(((2 ** rel)::BIGINT - 1)
                 * (SELECT d FROM disc)[rn]) AS idcg
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY rel DESC, doc) AS rn
            FROM qrels)
      WHERE rn <= 10 GROUP BY 1),
    base AS (SELECT query_id, count(*)::BIGINT AS n_rel
             FROM qrels GROUP BY 1),
    hits AS (
      SELECT r.query_id, count(*)::BIGINT AS n_hits,
             min(r.rank)::BIGINT AS first_rk,
             sum(((2 ** g.rel)::BIGINT - 1)
                 * (SELECT d FROM disc)[r.rank]) AS dcg
      FROM rk r JOIN qrels g
        ON g.query_id = r.query_id AND g.doc = r.doc
      GROUP BY 1)
    SELECT b.query_id, b.n_rel,
           COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
           {sql_quant('COALESCE(h.n_hits, 0) / b.n_rel')} AS recall_k,
           {sql_quant('COALESCE(1.0::DOUBLE / h.first_rk, 0.0::DOUBLE)')} AS mrr_k,
           {sql_quant('COALESCE(h.dcg, 0) / i.idcg')} AS ndcg_k
    FROM base b JOIN ideal i USING (query_id)
    LEFT JOIN hits h USING (query_id)""",
)
def search_eval_metrics(spark, sf_dir):
    """Ranking-quality evaluation
    (pipeline/retrieval.py:retrieval_eval): recall@10 / MRR@10 /
    nDCG@10 of the brute-force cosine retriever against label-derived
    judgments (same-label vectors are relevant; same id parity grades
    rel 2 vs 1, exercising the ideal-DCG ordering).  Gains are exact
    integers and rank discounts are driver-computed 1e-9 integer
    LITERALS shared by both engines — libm log2 never runs
    engine-side, so DCG sums are order-free integer arithmetic."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    ranked = ann.cosine_topk(embs, queries, k=10)
    c = embs.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("__cl"))
    qrels = (
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("__ql"))
        .join(c, F.col("__cl") == F.col("__ql"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                F.col("neighbor_id") % 2 == F.col("query_id") % 2, F.lit(2)
            ).otherwise(F.lit(1)).alias("rel"),
        )
    )
    from time_series_db_spark.pipeline.retrieval import retrieval_eval

    out = retrieval_eval(ranked, qrels, k=10, query_col="query_id")
    return out.select(
        "query_id", "n_rel", "n_hits",
        quant(F.col("recall_k")).alias("recall_k"),
        quant(F.col("mrr_k")).alias("mrr_k"),
        quant(F.col("ndcg_k")).alias("ndcg_k"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def _sql_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang])
    return f"len(list_filter(t, tok -> tok IN ({words})))"


def _sql_langid() -> str:
    langs = sorted(text.LANG_MARKERS)
    hits = ",\n      ".join(f"{_sql_lang_hits(g)} AS h_{g}" for g in langs)
    best_lang = f"'{langs[0]}'"
    best_score = f"h_{langs[0]}"
    for g in langs[1:]:
        best_lang = f"CASE WHEN h_{g} > {best_score} THEN '{g}' ELSE {best_lang} END"
        best_score = f"CASE WHEN h_{g} > {best_score} THEN h_{g} ELSE {best_score} END"
    return f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    scored AS (SELECT doc_id, {hits} FROM toks)
    SELECT doc_id, {best_lang} AS pred_lang, ({best_score})::BIGINT AS lang_hits
    FROM scored"""


@register("text_langid", _sql_langid())
def text_langid(spark, sf_dir):
    """Marker-word-count language ID (deterministic n-gram heuristic)."""
    return text.lang_id(_docs(spark, sf_dir))


_SQL_EN_STOP = ", ".join(f"'{w}'" for w in text.LANG_MARKERS["en"])

@register(
    "text_source_stats",
    f"""WITH feats AS (
      SELECT doc_id, source,
             {_NORM} AS norm,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_distinct({_TOKS}))::DOUBLE AS n_uniq,
             len(list_filter({_TOKS}, tok -> tok IN ({_SQL_EN_STOP})))::DOUBLE AS stop
      FROM documents),
    scored AS (
      SELECT source, norm, n_tokens,
             {sql_quant(
                 'least(n_tokens / 100.0, 1.0) * 0.4 + (n_uniq / n_tokens) * 0.4 '
                 '+ least((stop / n_tokens) * 5.0, 1.0) * 0.2'
             )} AS q
      FROM feats)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           (count(*) - count(DISTINCT norm))::BIGINT AS n_dupes,
           sum(n_tokens::BIGINT)::BIGINT AS total_tokens,
           {sql_quant(
               'CAST(sum(CAST(q AS DECIMAL(27,9))) AS DOUBLE) / count(*)'
           )} AS mean_quality
    FROM scored GROUP BY 1""",
)
def text_source_stats(spark, sf_dir):
    """Per-source corpus audit (pipeline/text.py:source_stats) — the
    curation dashboard run before mixing: per source the doc count,
    within-source exact-duplicate count, token volume, and mean quality
    score.  Quality features are map-side expressions on the ONE corpus
    scan (the source rides quality_score's keep_cols — no join back);
    the audit is a single partial-aggregated groupBy; exact-decimal
    mean over quantized per-doc scores keeps it engine-portable."""
    out = text.source_stats(_docs(spark, sf_dir))
    return out.select(
        "source", "n_docs", "n_dupes", "total_tokens",
        quant(F.col("mean_quality")).alias("mean_quality"),
    )


@register(
    "text_snapshot_psi",
    f"""WITH pold AS (
      SELECT n_chars::DOUBLE AS v FROM documents WHERE lang = 'en'),
    pnew AS (
      SELECT n_chars::DOUBLE AS v FROM documents WHERE lang <> 'en'),
    pb AS MATERIALIZED (
      SELECT [floor(x * 10000.0 + 0.5) / 10000.0
              for x in quantile_cont(v, [{', '.join(
                  str(i / 10) for i in range(1, 10))}])] AS bounds
      FROM pold),
    cold AS (
      SELECT len(list_filter((SELECT bounds FROM pb), b -> b <= v))::BIGINT
               AS bucket, count(*)::BIGINT AS n_old
      FROM pold GROUP BY 1),
    cnew AS (
      SELECT len(list_filter((SELECT bounds FROM pb), b -> b <= v))::BIGINT
               AS bucket, count(*)::BIGINT AS n_new
      FROM pnew GROUP BY 1),
    grid AS (SELECT gs::BIGINT AS bucket FROM generate_series(0, 9) t(gs)),
    cj AS (
      SELECT g.bucket, coalesce(o.n_old, 0)::BIGINT AS n_old,
             coalesce(n.n_new, 0)::BIGINT AS n_new
      FROM grid g LEFT JOIN cold o USING (bucket)
      LEFT JOIN cnew n USING (bucket)),
    tots AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM cj),
    shares AS (
      SELECT bucket, n_old, n_new,
             (n_old + 0.5) / (t_o + 5.0) AS p_old,
             (n_new + 0.5) / (t_n + 5.0) AS p_new
      FROM cj CROSS JOIN tots)
    SELECT bucket, n_old, n_new,
           {sql_quant('p_old')} AS p_old,
           {sql_quant('p_new')} AS p_new,
           {sql_quant('(p_new - p_old) * ln(p_new / p_old)')} AS psi_term
    FROM shares""",
)
def text_snapshot_psi(spark, sf_dir):
    """Population Stability Index (pipeline/text.py:distribution_psi):
    the standard distribution-drift monitor, here over doc length
    between the English slice (reference) and the non-English slice —
    the cross-slice length-profile check run before mixing.  Buckets
    are the reference slice's decile bins with boundaries quantized to
    the 1e-4 grid BEFORE bucketing (a boundary one ulp apart between
    engines would flip bucket counts discretely); shares are
    Laplace-smoothed so empty buckets cannot ln(0); per-bucket terms
    localize WHERE the distribution moved.  One percentile aggregate
    (1-row broadcast) + one scan and partial-agg groupBy per
    snapshot."""
    docs = _docs(spark, sf_dir)
    out = text.distribution_psi(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
        "n_chars",
    )
    return out.select(
        "bucket", "n_old", "n_new",
        quant(F.col("p_old")).alias("p_old"),
        quant(F.col("p_new")).alias("p_new"),
        quant(F.col("psi_term")).alias("psi_term"),
    )


@register(
    "text_categorical_psi",
    f"""WITH co AS (
      SELECT coalesce(lang, '<null>') AS category, count(*)::BIGINT AS n_old
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
    cn AS (
      SELECT coalesce(lang, '<null>') AS category, count(*)::BIGINT AS n_new
      FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1),
    cj AS (
      SELECT coalesce(o.category, n.category) AS category,
             coalesce(o.n_old, 0)::BIGINT AS n_old,
             coalesce(n.n_new, 0)::BIGINT AS n_new
      FROM co o FULL OUTER JOIN cn n ON o.category = n.category),
    tots AS (
      SELECT sum(n_old) AS t_o, sum(n_new) AS t_n, count(*) AS b FROM cj),
    shares AS (
      SELECT category, n_old, n_new,
             (n_old + 0.5) / (t_o + 0.5 * b) AS p_old,
             (n_new + 0.5) / (t_n + 0.5 * b) AS p_new
      FROM cj CROSS JOIN tots)
    SELECT category, n_old, n_new,
           {sql_quant('p_old')} AS p_old,
           {sql_quant('p_new')} AS p_new,
           {sql_quant('(p_new - p_old) * ln(p_new / p_old)')} AS psi_term
    FROM shares""",
)
def text_categorical_psi(spark, sf_dir):
    """Categorical PSI (pipeline/text.py:categorical_psi): language
    shares of the even-id snapshot vs the odd-id snapshot — the
    mixture-drift monitor run when a new crawl lands.  Buckets are the
    union of both snapshots' category values (appearing/vanishing
    categories still produce rows), shares Laplace-smoothed with the
    union category count, per-category psi_term localizing WHICH share
    moved.  All operands are integer counts until the single share
    division, so no boundary quantization is needed.  Two
    partial-aggregated category scans + a metadata-sized full-outer
    join."""
    docs = _docs(spark, sf_dir)
    out = text.categorical_psi(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 != 0),
        "lang",
    )
    return out.select(
        "category", "n_old", "n_new",
        quant(F.col("p_old")).alias("p_old"),
        quant(F.col("p_new")).alias("p_new"),
        quant(F.col("psi_term")).alias("psi_term"),
    )


@register(
    "text_quality",
    f"""WITH feats AS (
      SELECT doc_id,
             length({_NORM})::DOUBLE AS n_chars,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_distinct({_TOKS}))::DOUBLE AS n_uniq,
             len(list_filter({_TOKS}, tok -> tok IN ({_SQL_EN_STOP})))::DOUBLE AS stop,
             length(regexp_replace({_NORM}, '[a-z0-9 ]', '', 'g'))::DOUBLE AS nonalnum
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           {sql_quant('(n_chars - n_tokens + 1) / n_tokens')} AS mean_word_len,
           {sql_quant('n_uniq / n_tokens')} AS ttr,
           {sql_quant('stop / n_tokens')} AS stopword_ratio,
           {sql_quant('nonalnum / n_chars')} AS nonalnum_ratio,
           {sql_quant(
               'least(n_tokens / 100.0, 1.0) * 0.4 + (n_uniq / n_tokens) * 0.4 '
               '+ least((stop / n_tokens) * 5.0, 1.0) * 0.2'
           )} AS quality
    FROM feats""",
)
def text_quality(spark, sf_dir):
    """Gopher/C4-style quality features + composite score."""
    out = text.quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        quant(F.col("mean_word_len")).alias("mean_word_len"),
        quant(F.col("ttr")).alias("ttr"),
        quant(F.col("stopword_ratio")).alias("stopword_ratio"),
        quant(F.col("nonalnum_ratio")).alias("nonalnum_ratio"),
        quant(F.col("quality")).alias("quality"),
    )


_SQL_GOPHER_STOP = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)

@register(
    "text_gopher_quality",
    f"""WITH feats AS (
      SELECT doc_id,
             len(t)::DOUBLE AS nw,
             length(norm)::DOUBLE AS nc,
             (length(norm) - length(replace(norm, '#', '')))::DOUBLE AS nhash,
             (length(norm) - length(replace(norm, '...', '')))::DOUBLE / 3.0 AS nell,
             len(list_filter(t, tok -> regexp_matches(tok, '[a-z]')))::DOUBLE AS nalpha,
             len(list_filter([{_SQL_GOPHER_STOP}],
                             w -> list_contains(t, w)))::BIGINT AS stop_hits
      FROM (SELECT doc_id, {_NORM} AS norm, {_TOKS} AS t FROM documents)
    )
    SELECT doc_id, nw::BIGINT AS n_words,
           {sql_quant('(nc - nw + 1) / nw')} AS mean_word_len,
           {sql_quant('(nhash + nell) / nw')} AS symbol_ratio,
           {sql_quant('nalpha / nw')} AS alpha_frac,
           stop_hits,
           ((nw BETWEEN 50 AND 100000)
            AND ((nc - nw + 1) / nw BETWEEN 3.0 AND 10.0)
            AND ((nhash + nell) / nw <= 0.1)
            AND (nalpha / nw >= 0.8)
            AND (stop_hits >= 2)) AS keep
    FROM feats""",
)
def text_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText §A1.1 quality rules: word-count bounds, mean
    word length, symbol-to-word ratio, alpha-word fraction, required
    stop words — signals + composite keep flag, one scan, no UDFs."""
    out = text.gopher_quality(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_words",
        quant(F.col("mean_word_len")).alias("mean_word_len"),
        quant(F.col("symbol_ratio")).alias("symbol_ratio"),
        quant(F.col("alpha_frac")).alias("alpha_frac"),
        "stop_hits", "keep",
    )


def _sql_pii() -> str:
    s = _NORM
    counts = []
    for kind, pat in text.PII_PATTERNS.items():
        counts.append(f"len(regexp_extract_all({s}, '{pat}'))::BIGINT AS n_{kind}")
        s = f"regexp_replace({s}, '{pat}', '<{kind.upper()}>', 'g')"
    return (
        f"SELECT doc_id, {s} AS scrubbed, {', '.join(counts)} FROM documents"
    )


@register("text_pii_scrub", _sql_pii())
def text_pii_scrub(spark, sf_dir):
    """PII redaction pass: emails / IPv4 / phone-like runs replaced by
    <KIND> tags with per-kind counts — RE2-and-Java-portable patterns so
    the differential is exact."""
    return text.pii_scrub(_docs(spark, sf_dir))


@register(
    "text_token_stats",
    f"""SELECT doc_id,
           len(string_split({_NORM}, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all({_NORM}, '{text.BPE_REGEX}'))::BIGINT AS bpe_tokens
    FROM documents""",
)
def text_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counts."""
    return text.token_stats(_docs(spark, sf_dir))


@register(
    "text_fingerprint",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               [{sql_hash64('tok', 'fp')} % 1000000 for tok in t]),
             (acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD}
           ) AS fingerprint
    FROM toks""",
)
def text_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash document fingerprint."""
    return text.fingerprint(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# multimodal plumbing (deterministic fake decode — see pipeline/multimodal.py)
# ---------------------------------------------------------------------------

@register(
    "mm_decode_image_meta",
    """SELECT doc_id AS media_id,
           (strlen(text) % 64 + 1)::BIGINT AS width,
           (strlen(text) // 64 % 64 + 1)::BIGINT AS height,
           3::BIGINT AS channels,
           ((strlen(text) % 64 + 1) * (strlen(text) // 64 % 64 + 1) * 3)::BIGINT AS n_pixels
    FROM documents""",
)
def mm_decode_image_meta(spark, sf_dir):
    """Binary-column decode plumbing: mapInPandas over BINARY payloads
    (deterministic stub codec; real decoder slots into decode_fn='pil')."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    return multimodal.decode_image_meta(media)


#: the stub-codec aHash replay (text → 64 cells → mean threshold →
#: signed-int64 pack) — shared by the fingerprint entry and the
#: Hamming-banded near-dup entry
_AHASH_CTES = """ah0 AS (
      SELECT doc_id, k,
             ord(substr(text, ((k * length(text)) // 64) + 1, 1)) AS L
      FROM documents, generate_series(0, 63) t(k)
      WHERE length(text) > 0),
    ahm AS (SELECT doc_id, sum(L) / 64.0 AS mu FROM ah0 GROUP BY 1),
    ahb AS (
      SELECT a.doc_id,
             sum(CASE WHEN a.k < 63 AND a.L > m.mu
                      THEN (1::BIGINT << a.k) ELSE 0 END) AS lo,
             max(CASE WHEN a.k = 63 AND a.L > m.mu THEN 1 ELSE 0 END)
               AS hi
      FROM ah0 a JOIN ahm m USING (doc_id)
      GROUP BY 1),
    ahh AS (
      SELECT doc_id AS media_id,
             (lo + CASE WHEN hi = 1
                        THEN -9223372036854775807 - 1 ELSE 0 END)::BIGINT
               AS ahash
      FROM ahb)"""


@register(
    "mm_image_ahash",
    f"""WITH {_AHASH_CTES}
    SELECT media_id, ahash,
           count(*) OVER (PARTITION BY ahash)::BIGINT AS n_dupes
    FROM ahh""",
)
def mm_image_ahash(spark, sf_dir):
    """Perceptual image fingerprint + hash-exact dup counts
    (pipeline/multimodal.py:image_ahash): aHash — decode → grayscale →
    8×8 nearest resample → mean threshold → 64-bit fingerprint; the
    production leg decodes real PNGs via the stdlib decoder (unit-
    tested), this entry runs the deterministic stub codec so the SQL
    oracle replays cells, mean, bit packing, and the per-hash dup
    count exactly.  100 TB shape: Arrow mapInPandas hash pass, then
    ONE hash aggregation for dup counting."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    hashes = multimodal.image_ahash(media, decode_fn="fake")
    from pyspark.sql import Window as _W

    return hashes.where(F.col("ahash").isNotNull()).select(
        "media_id",
        "ahash",
        F.count(F.lit(1)).over(_W.partitionBy("ahash")).cast("long")
        .alias("n_dupes"),
    )


@register(
    "mm_ahash_neardup",
    f"""WITH {_AHASH_CTES},
    ahbd AS (
      SELECT media_id, b.b AS band, (ahash >> (b.b * 8)) & 255 AS key
      FROM ahh, generate_series(0, 7) b(b)),
    ahok AS (
      SELECT band, key FROM (
        SELECT band, key, count(*) AS n FROM ahbd GROUP BY 1, 2)
      WHERE n <= 32),
    ahbf AS (SELECT d.* FROM ahbd d JOIN ahok USING (band, key)),
    ahcand AS (
      SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b
      FROM ahbf a JOIN ahbf c
        ON a.band = c.band AND a.key = c.key
       AND a.media_id < c.media_id)
    SELECT p.id_a, p.id_b,
           bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
    FROM ahcand p
    JOIN ahh x ON x.media_id = p.id_a
    JOIN ahh y ON y.media_id = p.id_b
    WHERE bit_count(xor(x.ahash, y.ahash)) <= 7""",
)
def mm_ahash_neardup(spark, sf_dir):
    """Hamming-banded perceptual near-dup pairs
    (pipeline/multimodal.py:ahash_neardup_pairs): images within
    Hamming ≤ 7 of each other on the 64-bit aHash — a re-encoded or
    resized copy lands a few bits away, never hash-equal, so this is
    the second pass behind mm_image_ahash's exact dup counts.  8
    eight-bit bands give the pigeonhole guarantee for d ≤ 7; the
    stop-band cap 32 (the correlate_matrix discipline, replayed by the
    oracle as the same integer count filter) keeps low-entropy band
    bytes from going quadratic — measured 370M candidate pairs on the
    10× synthetic corpus without it.  Shift and popcount semantics
    are pinned identical on both engines — all-integer end to end."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    hashes = multimodal.image_ahash(media, decode_fn="fake")
    return multimodal.ahash_neardup_pairs(
        hashes, max_hamming=7, num_bands=8, max_bucket=32
    )


@register(
    "mm_ahash_wide_neardup",
    """WITH awc AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, length(text) - 1) || 'Z'
      FROM documents WHERE doc_id % 20 = 0 AND length(text) > 1),
    aw0 AS (
      SELECT doc_id, k,
             ord(substr(text, ((k * length(text)) // 256) + 1, 1)) AS L
      FROM awc, generate_series(0, 255) t(k)
      WHERE length(text) > 0),
    awm AS (SELECT doc_id, sum(L) / 256.0 AS mu FROM aw0 GROUP BY 1),
    aww AS (
      SELECT a.doc_id, (a.k // 64) AS w,
             sum(CASE WHEN a.k % 64 < 63 AND a.L > m.mu
                      THEN (1::BIGINT << (a.k % 64)) ELSE 0 END) AS lo,
             max(CASE WHEN a.k % 64 = 63 AND a.L > m.mu THEN 1 ELSE 0 END)
               AS hi
      FROM aw0 a JOIN awm m USING (doc_id)
      GROUP BY 1, 2),
    awh AS (
      SELECT doc_id AS media_id, w,
             (lo + CASE WHEN hi = 1
                        THEN -9223372036854775807 - 1 ELSE 0 END)::BIGINT
               AS word
      FROM aww),
    awbd AS (
      SELECT h.media_id, b.b AS band,
             (h.word >> ((b.b % 4) * 16)) & 65535 AS key
      FROM awh h JOIN generate_series(0, 15) b(b) ON h.w = b.b // 4),
    awcand AS (
      SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b
      FROM awbd a JOIN awbd c
        ON a.band = c.band AND a.key = c.key
       AND a.media_id < c.media_id)
    SELECT p.id_a, p.id_b,
           sum(bit_count(xor(x.word, y.word)))::BIGINT AS hamming
    FROM awcand p
    JOIN awh x ON x.media_id = p.id_a
    JOIN awh y ON y.media_id = p.id_b AND y.w = x.w
    GROUP BY 1, 2
    HAVING sum(bit_count(xor(x.word, y.word))) <= 15""",
)
def mm_ahash_wide_neardup(spark, sf_dir):
    """Wide-hash perceptual near-dup pairs
    (pipeline/multimodal.py:image_ahash_wide + ahash_neardup_pairs_wide):
    Hamming ≤ 15 on the 256-bit (16×16) aHash, sixteen 16-bit bands,
    the same pigeonhole exactness as mm_ahash_neardup with NO
    stop-band cap — the r12 two-decade sweep showed the 64-bit hash's
    256-value band space forces cap-based recall collapse at ~500k
    images (candidates FELL 0.4× while the corpus grew 100×); the
    density scale knob is hash WIDTH, not banding (16-bit bands give
    65k bucket values, 256× the space; 32-bit bands 4.3B for the
    billion-image regime).  Near-dups are PLANTED (every 20th doc
    reappears at id+1M with its last character replaced — the
    "re-encoded copy" analog: under the position-ratio fake codec only
    the tail cells flip, so the copy lands a few bits away, never
    hash-equal), exactly the construction the dedup entries use.  The
    oracle replays the planted corpus, the word packing (per-word sign
    wrap), the 16-bit band keys (arithmetic shift + mask, pinned
    identical on both engines) and the summed per-word XOR popcount."""
    docs = _docs(spark, sf_dir)
    planted = docs.filter(
        (F.col("doc_id") % 20 == 0) & (F.length("text") > 1)
    ).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 1, length(text) - 1)"), F.lit("Z")
        ).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    corpus = docs.unionByName(planted)
    media = multimodal.documents_as_media(corpus)
    hashes = multimodal.image_ahash_wide(media, decode_fn="fake", grid=16)
    return multimodal.ahash_neardup_pairs_wide(
        hashes, max_hamming=15, num_bands=16, bits=256
    )


@register(
    "mm_sample_frames",
    """SELECT doc_id AS media_id,
           unnest(generate_series(0, least(greatest(strlen(text) // 64, 1), 8) - 1))::BIGINT AS frame_idx,
           (CASE WHEN strlen(text) < 64 THEN strlen(text) ELSE 64 END)::BIGINT AS frame_bytes
    FROM documents""",
)
def mm_sample_frames(spark, sf_dir):
    """1→N frame-sampling plumbing via mapInPandas (stub keyframe logic)."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir), media_type="video")
    return multimodal.sample_frames(media)


@register(
    "ann_ivf_topk",
    f"""WITH e AS ({_SQL_E}),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.v, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.cv')} DESC, c.cid
             ) AS pr
      FROM e CROSS JOIN cents c),
    cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE pr = 1),
    qcells AS (
      SELECT vec_id, v, cid AS cell FROM assign
      WHERE pr <= 2 AND vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM qcells q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN (nlist=16, nprobe=2): coarse-quantized candidate cells
    + exact in-cell re-rank — the third similarity-search tier next to the
    brute-force baseline and the LSH-bucketed path."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.ivf_topk(embs, queries, k=5, nlist=16, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


@register(
    "mm_audio_features",
    """SELECT doc_id AS media_id,
           16000::BIGINT AS sample_rate,
           strlen(text)::BIGINT AS n_samples,
           (strlen(text) * 1000 // 16000)::BIGINT AS duration_ms,
           (list_reduce(list_prepend(0::BIGINT,
              [(ascii(c) * ascii(c))::BIGINT for c in split(text, '')]),
              (a, x) -> a + x) // strlen(text))::BIGINT AS rms_q
    FROM documents WHERE strlen(text) > 0""",
)
def mm_audio_features(spark, sf_dir):
    """Audio feature extraction over opaque binary payloads (deterministic
    fake PCM decode — the codec slot is a documented stub, the
    mapInPandas schema/batch plumbing is real). Completes the
    image/video/audio modality trio."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir), media_type="audio")
    return multimodal.extract_audio_features(media)


#: the registered minhash-pair query text doubles as the edge source for
#: the cluster-resolution oracle (nested WITH in a FROM subquery)
_PAIRS_SQL = ORACLES["dedup_minhash_lsh"]


@register(
    "dedup_cluster_survivors",
    f"""WITH RECURSIVE pairs AS (SELECT * FROM ({_PAIRS_SQL})),
    nodes AS (SELECT DISTINCT id FROM
      (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id, id AS root FROM nodes
      UNION
      SELECT e.b AS id, r.root FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id, min(root) AS comp FROM reach GROUP BY id),
    losers AS (SELECT id FROM comp WHERE comp <> id)
    SELECT d.doc_id FROM documents d
    LEFT JOIN losers l ON d.doc_id = l.id WHERE l.id IS NULL""",
)
def dedup_cluster_survivors(spark, sf_dir):
    """Near-dup cluster resolution: MinHash pairs → connected components
    (min-label propagation) → one canonical doc per component + all
    unpaired docs. The oracle resolves components with a recursive CTE
    (min reachable id); the Spark side iterates bounded label-propagation
    rounds — the deduplicated-corpus step a training pipeline ships."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    return dedup.dedup_survivors(docs, pairs).select("doc_id")


def _sql_kmeans_cents(nlist: int, iters: int, dims: int = 64) -> tuple[str, str]:
    """CTE chain unrolling Lloyd rounds — mirrors ann.kmeans_centroids
    (exact-decimal dim sums, one double divide, empty cells keep the old
    centroid). Returns (cte_sql, final_cte_name)."""
    sql = (
        f"c0 AS (SELECT vec_id::BIGINT AS cid, v AS centroid "
        f"FROM e WHERE vec_id < {nlist})"
    )
    for t in range(iters):
        sql += f""",
    a{t} AS (
      SELECT e.vec_id, e.v, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.centroid')} DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN c{t} c),
    b{t} AS (SELECT vec_id, v, cid FROM a{t} WHERE rn = 1),
    d{t} AS (
      SELECT cid, i,
             CAST(sum(CAST(v[i] AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS m
      FROM b{t}, generate_series(1, {dims}) t(i)
      GROUP BY cid, i),
    n{t} AS (SELECT cid, list(m ORDER BY i) AS centroid FROM d{t} GROUP BY cid),
    c{t + 1} AS (
      SELECT c.cid, COALESCE(n.centroid, c.centroid) AS centroid
      FROM c{t} c LEFT JOIN n{t} n USING (cid))"""
    return sql, f"c{iters}"


_KM_CTES, _KM_FINAL = _sql_kmeans_cents(nlist=16, iters=2)


#: the trained-quantizer IVF replay — shared by the inline entry and
#: the prebuilt-index entry (the fit/apply split changes which side
#: pays the training scan, not the math, so the SQL is identical)
_IVF_KM_SQL = f"""WITH e AS ({_SQL_E}),
    {_KM_CTES},
    assign AS (
      SELECT e.vec_id, e.v, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.centroid')} DESC, c.cid
             ) AS pr
      FROM e CROSS JOIN {_KM_FINAL} c),
    cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE pr = 1),
    qcells AS (
      SELECT vec_id, v, cid AS cell FROM assign
      WHERE pr <= 2 AND vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM qcells q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5"""


@register("ann_ivf_prebuilt", _IVF_KM_SQL)
def ann_ivf_prebuilt(spark, sf_dir):
    """The fit/apply split of trained-quantizer IVF
    (pipeline/ann.py:ivf_fit + ivf_kmeans_topk(model=…)): the coarse
    quantizer is trained and the corpus cell-assigned ONCE (at 100 TB:
    the cells table written to parquet partitioned by cell), and every
    query batch probes the pre-built index — no k-means rounds, no
    corpus re-assignment per call (the minhash_fit shape over the ANN
    tier; no-retrain pinned by monkeypatch test).  The oracle is the
    inline entry's SQL verbatim: the split changes which side pays the
    training scan, not the result."""
    embs = _embs(spark, sf_dir)
    model = ann.ivf_fit(embs, nlist=16, train_iters=2)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.ivf_kmeans_topk(queries=queries, k=5, nprobe=2, model=model)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


@register(
    "ann_ivf_update",
    f"""WITH eall AS ({_SQL_E}),
    e AS (SELECT * FROM eall WHERE vec_id % 2 = 0),
    {_KM_CTES},
    assign AS (
      SELECT x.vec_id, x.v, c.cid,
             row_number() OVER (
               PARTITION BY x.vec_id
               ORDER BY {_sql_cosine('x.v', 'c.centroid')} DESC, c.cid
             ) AS pr
      FROM eall x CROSS JOIN {_KM_FINAL} c),
    cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE pr = 1),
    qcells AS (
      SELECT vec_id, v, cid AS cell FROM assign
      WHERE pr <= 2 AND vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM qcells q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5""",
)
def ann_ivf_update(spark, sf_dir):
    """Incremental index add (pipeline/ann.py:ivf_update): the
    quantizer trains ONCE on the even half (the FROZEN-centroid FAISS
    add() contract — retraining would move every stored vector's
    cell), the odd half is assigned against those centroids and
    appended, and the query batch searches the updated index.  The
    oracle trains its Lloyd rounds on the even half and assigns the
    FULL corpus under the frozen centroids — the update == re-assign
    equality proof; no-retrain pinned by monkeypatch test."""
    embs = _embs(spark, sf_dir)
    model = ann.ivf_fit(
        embs.filter(F.col("vec_id") % 2 == 0), nlist=16, train_iters=2
    )
    model = ann.ivf_update(model, embs.filter(F.col("vec_id") % 2 == 1))
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.ivf_kmeans_topk(queries=queries, k=5, nprobe=2, model=model)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


@register("ann_ivf_kmeans_topk", _IVF_KM_SQL)
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF-Flat with a TRAINED coarse quantizer: two deterministic Lloyd
    rounds (broadcast assign + exact-decimal mean update) before the
    cell-pruned candidate search — the production IVF shape; the oracle
    unrolls the identical rounds as SQL CTEs."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.ivf_kmeans_topk(embs, queries, k=5, nlist=16, nprobe=2,
                              train_iters=2)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


_KM64_CTES, _KM64_FINAL = _sql_kmeans_cents(nlist=64, iters=2)


def _sql_kmeans_over(
    src: str, nlist: int, iters: int, prefix: str, dims: int = 64
) -> tuple[str, str]:
    """Generalized Lloyd CTE chain over an arbitrary ``(vec_id, v)``
    source CTE (``_sql_kmeans_cents`` is the ``src='e'`` special case,
    kept verbatim so the long-green entries' SQL stays byte-stable).
    Mirrors ann.kmeans_centroids: min-id init, exact-decimal dim sums,
    one double divide, empty cells keep the previous centroid."""
    p = prefix
    sql = (
        f"{p}c0 AS (SELECT vec_id::BIGINT AS cid, v AS centroid "
        f"FROM {src} WHERE vec_id < {nlist})"
    )
    for t in range(iters):
        sql += f""",
    {p}a{t} AS (
      SELECT s.vec_id, s.v, c.cid,
             row_number() OVER (
               PARTITION BY s.vec_id
               ORDER BY {_sql_cosine("s.v", "c.centroid")} DESC, c.cid
             ) AS rn
      FROM {src} s CROSS JOIN {p}c{t} c),
    {p}b{t} AS (SELECT vec_id, v, cid FROM {p}a{t} WHERE rn = 1),
    {p}d{t} AS (
      SELECT cid, i,
             CAST(sum(CAST(v[i] AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS m
      FROM {p}b{t}, generate_series(1, {dims}) t(i)
      GROUP BY cid, i),
    {p}n{t} AS (SELECT cid, list(m ORDER BY i) AS centroid FROM {p}d{t} GROUP BY cid),
    {p}c{t + 1} AS (
      SELECT c.cid, COALESCE(n.centroid, c.centroid) AS centroid
      FROM {p}c{t} c LEFT JOIN {p}n{t} n USING (cid))"""
    return sql, f"{p}c{iters}"


def _sql_hier_assign(
    cents_cte: str, prefix: str, n_cents: int, super_probe: int = 4,
    src: str = "e", nprobe: int = 1,
) -> tuple[str, str]:
    """CTE chain unrolling ann.ivf_assign_hier(<src>, <cents>, nprobe):
    mini-Lloyd (1 iter) clusters the centroid table into
    ⌈√n_cents⌉ super-cells, each centroid pins to ONE super, each
    vector routes to its ``super_probe`` nearest supers and ranks only
    those supers' centroids.  Returns (sql, assigned_cte) where the
    assigned CTE has (vec_id, v, cid) — plus ``rn`` when nprobe > 1
    (the probe rank)."""
    import math as _math

    n_super = max(2, _math.isqrt(max(n_cents - 1, 1)) + 1)
    sp = min(int(super_probe), n_super)
    p = prefix
    cv = f"{p}cv"
    km_sql, km_final = _sql_kmeans_over(cv, n_super, 1, f"{p}s")
    sql = f"""{cv} AS (SELECT cid AS vec_id, centroid AS v FROM {cents_cte}),
    {km_sql},
    {p}cs AS (
      SELECT vec_id AS cid, v AS centroid, scid AS super FROM (
        SELECT c.vec_id, c.v, s.cid AS scid,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_sql_cosine("c.v", "s.centroid")} DESC, s.cid
               ) AS rn
        FROM {cv} c CROSS JOIN {km_final} s) WHERE rn = 1),
    {p}rt AS (
      SELECT vec_id, v, scid AS super FROM (
        SELECT x.vec_id, x.v, s.cid AS scid,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_sql_cosine("x.v", "s.centroid")} DESC, s.cid
               ) AS rn
        FROM {src} x CROSS JOIN {km_final} s) WHERE rn <= {sp}),
    {p}asg AS (
      SELECT vec_id, v, cid, rn FROM (
        SELECT r.vec_id, r.v, cs.cid,
               row_number() OVER (
                 PARTITION BY r.vec_id
                 ORDER BY {_sql_cosine("r.v", "cs.centroid")} DESC, cs.cid
               ) AS rn
        FROM {p}rt r JOIN {p}cs cs ON cs.super = r.super) WHERE rn <= {nprobe})"""
    return sql, f"{p}asg"


def _sql_semantic_hier(nlist: int, threshold: float) -> str:
    """The full dedup_semantic chain with HIERARCHICAL training (1
    Lloyd iter) and assignment — the oracle for the two-level path:
    init → hier-assign #1 → mean update → hier-assign #2 → cells →
    unit-dot prune (identical tail to the flat entry)."""
    h1_sql, h1_asg = _sql_hier_assign("hc0", "h1", nlist)
    h2_sql, h2_asg = _sql_hier_assign("hc1", "h2", nlist)
    return f"""WITH e AS ({_SQL_E}),
    hc0 AS (SELECT vec_id::BIGINT AS cid, v AS centroid
            FROM e WHERE vec_id < {nlist}),
    {h1_sql},
    hd AS (
      SELECT cid, i,
             CAST(sum(CAST(v[i] AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS m
      FROM {h1_asg}, generate_series(1, 64) t(i)
      GROUP BY cid, i),
    hn AS (SELECT cid, list(m ORDER BY i) AS centroid FROM hd GROUP BY cid),
    hc1 AS (
      SELECT c.cid, COALESCE(n.centroid, c.centroid) AS centroid
      FROM hc0 c LEFT JOIN hn n USING (cid)),
    {h2_sql},
    cells AS (SELECT vec_id, v, cid AS cell FROM {h2_asg}),
    ucells AS (
      SELECT vec_id, cell,
             [v[i] / nullif(sqrt({_sql_dot("v", "v")}), 0.0)
              for i in generate_series(1, len(v))] AS u
      FROM cells),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM ucells a JOIN ucells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_sql_dot("a.u", "b.u")} >= {threshold})
    SELECT c.vec_id, c.cell::BIGINT AS cell
    FROM cells c
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = c.vec_id)"""


def _sql_hn_hier(nlist: int, k: int, nprobe: int) -> str:
    """ann.hard_negatives_ivf at the hierarchical threshold: id-subset
    centroids (no Lloyd on the cents themselves), two-level assignment
    for BOTH the corpus (nprobe=1) and the anchors (nprobe=2), label
    inequality in the cell join, probe-dedup, per-anchor rank."""
    c_sql, c_asg = _sql_hier_assign("gc0", "g1", nlist, src="e", nprobe=1)
    q_sql, q_asg = _sql_hier_assign("gc0", "g2", nlist, src="q", nprobe=nprobe)
    return f"""WITH e AS ({_SQL_E}),
    q AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
    lbl AS (SELECT vec_id, label FROM embeddings),
    gc0 AS (SELECT vec_id::BIGINT AS cid, v AS centroid
            FROM e WHERE vec_id < {nlist}),
    {c_sql},
    {q_sql},
    cells AS (
      SELECT a.vec_id AS neighbor_id, a.v AS cv, a.cid AS cell, l.label AS nl
      FROM {c_asg} a JOIN lbl l ON l.vec_id = a.vec_id),
    qcells AS (
      SELECT a.vec_id AS query_id, a.v AS qv, a.cid AS cell, l.label AS ql
      FROM {q_asg} a JOIN lbl l ON l.vec_id = a.vec_id),
    cand AS (
      SELECT DISTINCT q.query_id, c.neighbor_id, q.ql, c.nl,
             {_sql_cosine("q.qv", "c.cv")} AS cosine
      FROM qcells q JOIN cells c
        ON c.cell = q.cell
       AND q.query_id <> c.neighbor_id
       AND q.ql <> c.nl),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant("cosine")} AS cosine,
           ql::BIGINT AS query_label, nl::BIGINT AS neighbor_label
    FROM ranked WHERE rank <= {k}"""


@register("ann_hard_negatives_ivf_hier", _sql_hn_hier(nlist=256, k=5, nprobe=2))
def ann_hard_negatives_ivf_hier(spark, sf_dir):
    """Celled hard-negative mining on the two-level assignment path,
    driver-certified at gate scale: nlist=256 == HIER_ASSIGN_MIN_NLIST
    forces ivf_assign_hier for both the corpus (nprobe=1) and the
    anchors (nprobe=2) — the configuration the 100× sweep measured at
    19.5 s vs the flat path's 96.2 s (BASELINE.md r13 addendum).  The
    oracle unrolls the two-level chain twice (shared id-subset
    centroids, per-side routing) plus the label-inequality cell join,
    probe-dedup, and per-anchor rank."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.hard_negatives_ivf(embs, queries, k=5, nlist=256, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", "rank",
        quant(F.col("cosine")).alias("cosine"),
        F.col("query_label").cast("long").alias("query_label"),
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
    )


@register("dedup_semantic_hier", _sql_semantic_hier(nlist=256, threshold=0.45))
def dedup_semantic_hier(spark, sf_dir):
    """The two-level (hierarchical) SemDeDup path driver-certified at
    gate scale: nlist=256 == ann.HIER_ASSIGN_MIN_NLIST forces
    ivf_assign_hier through BOTH the Lloyd iteration and the final
    assignment (mini-Lloyd super-cells over the centroid table, 4-super
    routing, within-super rank — pipeline/ann.py:ivf_assign_hier), the
    same code the 100× sweep runs under nlist="auto" (BASELINE.md r13
    addendum: hard-negative mining 96.2 → 19.5 s on this path).  The
    oracle unrolls the identical two-level chain — deterministic
    because every rank tie-breaks on the cell id."""
    return dedup.semantic_dedup(
        _embs(spark, sf_dir), nlist=256, train_iters=1, threshold=0.45
    )


@register(
    "dedup_semantic",
    f"""WITH e AS ({_SQL_E}),
    {_KM64_CTES},
    assign AS (
      SELECT e.vec_id, e.v, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.centroid')} DESC, c.cid
             ) AS pr
      FROM e CROSS JOIN {_KM64_FINAL} c),
    cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE pr = 1),
    ucells AS (
      SELECT vec_id, cell,
             [v[i] / nullif(sqrt({_sql_dot('v', 'v')}), 0.0)
              for i in generate_series(1, len(v))] AS u
      FROM cells),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM ucells a JOIN ucells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_sql_dot('a.u', 'b.u')} >= 0.45)
    SELECT c.vec_id, c.cell::BIGINT AS cell
    FROM cells c
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = c.vec_id)""",
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup: k-means clusters (same trained quantizer as IVF, nlist
    scaled with the corpus per the paper's constant-cell-size regime),
    then within-cluster unit-vector dot ≥ 0.45 prunes to the min-id
    survivor — the embedding-space semantic dedup a pretraining pipeline
    runs after exact/minhash dedup. The oracle unrolls the identical
    Lloyd rounds and the identical normalize-then-dot fold."""
    return dedup.semantic_dedup(
        _embs(spark, sf_dir), nlist=64, train_iters=2, threshold=0.45
    )


@register(
    "text_repetition",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (SELECT doc_id, unnest({sql_word_shingles('t', 2)}) AS g FROM toks),
    per_gram AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           sum(c)::BIGINT AS n_bigrams,
           {sql_quant('1.0 - count(*) / sum(c)')} AS dup_bigram_frac,
           {sql_quant('max(c) / sum(c)')} AS top_bigram_frac
    FROM per_gram GROUP BY doc_id""",
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-bigram fraction and
    most-frequent-bigram share per document."""
    out = text.repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_bigrams",
        quant(F.col("dup_bigram_frac")).alias("dup_bigram_frac"),
        quant(F.col("top_bigram_frac")).alias("top_bigram_frac"),
    )


@register(
    "text_ngram_novelty",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest({sql_word_shingles('t', 3)}) AS g FROM toks),
    prev AS (SELECT g, count(*)::BIGINT AS n_docs FROM grams GROUP BY g)
    SELECT x.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN p.n_docs = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           {sql_quant("sum(CASE WHEN p.n_docs = 1 THEN 1 ELSE 0 END) "
                      "/ count(*)")} AS novelty
    FROM grams x JOIN prev p ON p.g = x.g
    GROUP BY x.doc_id""",
)
def text_ngram_novelty(spark, sf_dir):
    """Corpus-relative novelty (pipeline/text.py:ngram_novelty): the
    fraction of each document's DISTINCT word 3-grams occurring in no
    other document — the diversity signal completing the repetition
    family (repetition = duplication inside a doc, boilerplate = text
    shared by many docs, novelty = content that is the doc's alone),
    the standard knob for diversity-weighted sampling.  Spark groups
    on the gram hash, the oracle on the gram STRING — a collision
    surfaces as a mismatch."""
    out = text.ngram_novelty(_docs(spark, sf_dir), n=3)
    return out.select(
        "doc_id", "n_grams", "n_unique",
        quant(F.col("novelty")).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# training-batch construction (pipeline/pack.py): sequence packing +
# deterministic stratified sampling — the assembly steps downstream of
# filter/dedup in an LLM data pipeline.
# ---------------------------------------------------------------------------

_SHARD_SQL = (
    "CAST((" + sql_hash64("CAST(doc_id AS VARCHAR)", "shard") + " % 64) AS INT)"
)


@register(
    "pack_sequences",
    f"""WITH base AS (
      SELECT doc_id,
             {_SHARD_SQL} AS shard,
             len(string_split({_NORM}, ' '))::BIGINT AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM base)
    SELECT doc_id, shard, (start_offset // 512)::BIGINT AS pack_id,
           start_offset::BIGINT AS start_offset, n_tokens
    FROM packed""",
)
def pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing into 512-token blocks, per
    hash-balanced shard (pipeline/pack.py — the GPT-style pretraining
    batch layout; window per shard, no global sort)."""
    from time_series_db_spark.pipeline import pack

    return pack.pack_sequences(_docs(spark, sf_dir), budget=512, n_shards=64)


@register(
    "sample_stratified",
    """WITH r AS (
      SELECT doc_id, lang AS stratum,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents)
    SELECT doc_id, stratum, rnk::BIGINT AS sample_rank
    FROM r WHERE rnk <= 20""",
)
def sample_stratified(spark, sf_dir):
    """Deterministic 20-per-language sample by md5(doc_id) rank —
    re-runnable eval/ablation splits (pipeline/pack.py; WindowGroupLimit
    keeps giant strata shuffle-bounded at n×partitions rows)."""
    from time_series_db_spark.pipeline import pack

    return pack.sample_stratified(
        _docs(spark, sf_dir), strata_col="lang", n_per_stratum=20
    )


@register(
    "sessionize_events",
    """WITH base AS (
      SELECT user_id AS "user", epoch_ms(ts) AS ts FROM events),
    lagged AS (
      SELECT "user", ts,
             lag(ts) OVER (PARTITION BY "user" ORDER BY ts) AS pts
      FROM base),
    flagged AS (
      SELECT "user", ts,
             CASE WHEN pts IS NULL OR ts - pts > 1800000
                  THEN 1 ELSE 0 END AS ns
      FROM lagged),
    sess AS (
      SELECT "user", ts,
             sum(ns) OVER (PARTITION BY "user" ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS session_id
      FROM flagged)
    SELECT "user", session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*)::BIGINT AS n_events,
           max(ts) - min(ts) AS duration_ms
    FROM sess GROUP BY 1, 2""",
)
def sessionize_events(spark, sf_dir):
    """Gap-based user sessions (30m gap) over the raw events table —
    streaming/sessions.py batch path: one per-user window + one hash
    aggregation; the session boundary is tie-insensitive so the
    differential is deterministic under any shuffle order."""
    from time_series_db_spark.streaming.sessions import sessionize

    return sessionize(load_table(spark, sf_dir, "events"))


#: the full curation funnel replay (quality >= 0.55 -> min-id exact-dedup
#: survivor -> 256-token/16-shard packing) — the oracle for BOTH the
#: full-rerun entry and the incremental entry (whose equality with the
#: full rerun is exactly the property being pinned)
_CURATE_FULL_SQL = f"""WITH feats AS (
      SELECT doc_id, text,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_distinct({_TOKS}))::DOUBLE AS n_uniq,
             len(list_filter({_TOKS}, tok -> tok IN ({_SQL_EN_STOP})))::DOUBLE AS stop
      FROM documents),
    kept AS (
      SELECT doc_id, text FROM feats
      WHERE least(n_tokens / 100.0, 1.0) * 0.4 + (n_uniq / n_tokens) * 0.4
            + least((stop / n_tokens) * 5.0, 1.0) * 0.2 >= 0.55),
    surv AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, {_NORM} AS norm FROM kept) GROUP BY norm),
    final AS (SELECT k.doc_id, k.text FROM kept k JOIN surv s USING (doc_id)),
    base AS (
      SELECT doc_id,
             {_SHARD_SQL.replace('% 64', '% 16')} AS shard,
             len(string_split({_NORM}, ' '))::BIGINT AS n_tokens
      FROM final),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM base)
    SELECT doc_id, shard, (start_offset // 256)::BIGINT AS pack_id,
           start_offset::BIGINT AS start_offset, n_tokens
    FROM packed"""


@register(
    "pipeline_curate",
    _CURATE_FULL_SQL,
)
def pipeline_curate(spark, sf_dir):
    """The composed curation pipeline a training run actually executes:
    quality filter (composite score ≥ 0.55, identical expression tree on
    both engines so the threshold is fp-safe) → exact dedup (min-id
    survivor per normalized text) → 256-token sequence packing over the
    survivors. Every stage is the already-verified operator; this entry
    pins their composition end-to-end."""
    from time_series_db_spark.pipeline import pack

    docs = _docs(spark, sf_dir)
    q = (
        text.quality_score(docs)
        .filter(F.col("quality") >= 0.55)
        .select("doc_id")
    )
    kept = docs.join(q, "doc_id")
    surv = dedup.exact_dedup(kept).select("doc_id")
    final = kept.join(surv, "doc_id")
    return pack.pack_sequences(final, budget=256, n_shards=16)


@register(
    "pipeline_curate_incremental",
    _CURATE_FULL_SQL,
)
def pipeline_curate_incremental(spark, sf_dir):
    """Incremental reprocessing (pipeline/curate.py:curate_incremental):
    curate the new snapshot reading text ONLY for the corpus_diff delta
    — a synthetic previous snapshot drops every 13th document (those
    become "added") and carries a stale text for every 9th (those
    become "changed"); unchanged docs reuse the previous run's
    curate_features table.  The ORACLE is the FULL RERUN over the new
    snapshot (byte-identical to pipeline_curate's), so the driver's
    hash match IS the incremental == full-rerun equality proof."""
    from time_series_db_spark.pipeline import curate

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 13 != 5).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 4,
            F.concat(F.col("text"), F.lit(" STALEv1")),
        ).otherwise(F.col("text")).alias("text"),
    )
    stored = curate.curate_features(old)
    return curate.curate_incremental(old, docs, stored)


# ---------------------------------------------------------------------------
# decontamination + mixture sampling (r5)
# ---------------------------------------------------------------------------

_DECON_SH = sql_word_shingles(_TOKS, 8)


@register(
    "decontaminate_ngram",
    f"""WITH corpus AS (SELECT doc_id, {_DECON_SH} AS g FROM documents WHERE doc_id % 20 <> 0),
    evals  AS (SELECT {_DECON_SH} AS g FROM documents WHERE doc_id % 20 = 0),
    eh AS (SELECT DISTINCT {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT unnest(g) AS gram FROM evals)),
    ch AS (SELECT doc_id, {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT doc_id, unnest(g) AS gram FROM corpus)),
    hits AS (SELECT doc_id, count(DISTINCT gh) AS n FROM ch JOIN eh USING (gh) GROUP BY 1)
    SELECT c.doc_id, coalesce(h.n, 0)::BIGINT AS n_collisions,
           coalesce(h.n, 0) >= 1 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)""",
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination (pipeline/decontam.py): every 20th
    document plays the benchmark set; the rest of the corpus is flagged
    on any shared 8-word-gram (the GPT-3 appendix-C methodology).  Eval
    n-gram hashes broadcast; only actual collisions ever shuffle."""
    from time_series_db_spark.pipeline import decontam

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    return decontam.decontaminate(corpus, evals, n=8, min_hits=1)


@register(
    "decontaminate_overlap",
    f"""WITH corpus AS (SELECT doc_id, {_DECON_SH} AS g FROM documents WHERE doc_id % 20 <> 0),
    evals  AS (SELECT {_DECON_SH} AS g FROM documents WHERE doc_id % 20 = 0),
    eh AS (SELECT DISTINCT {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT unnest(g) AS gram FROM evals)),
    ch AS (SELECT doc_id, {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT doc_id, unnest(g) AS gram FROM corpus)),
    hits AS (SELECT doc_id, count(DISTINCT gh) AS n FROM ch JOIN eh USING (gh) GROUP BY 1)
    SELECT c.doc_id, len(c.g)::BIGINT AS n_grams,
           coalesce(h.n, 0)::BIGINT AS n_collisions,
           {sql_quant('coalesce(h.n, 0)::DOUBLE / len(c.g)')} AS overlap
    FROM corpus c LEFT JOIN hits h USING (doc_id)""",
)
def decontaminate_overlap(spark, sf_dir):
    """Continuous contamination scoring
    (pipeline/decontam.py:overlap_score): per corpus document the
    fraction of its distinct 8-word-grams found anywhere in the eval
    split — the graded leakage signal a binary min_hits flag hides.
    Same broadcast-eval / collisions-only-shuffle shape as the flag
    variant."""
    from time_series_db_spark.pipeline import decontam

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    out = decontam.overlap_score(corpus, evals, n=8)
    return out.select(
        "doc_id", "n_grams", "n_collisions",
        quant(F.col("overlap")).alias("overlap"),
    )


@register(
    "decontaminate_eval_side",
    f"""WITH corpus AS (SELECT {_DECON_SH} AS g FROM documents WHERE doc_id % 20 <> 0),
    evals AS (SELECT doc_id, {_DECON_SH} AS g FROM documents WHERE doc_id % 20 = 0),
    eh AS (SELECT DISTINCT {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT unnest(g) AS gram FROM evals)),
    coll AS (SELECT DISTINCT gh FROM (
      SELECT {sql_hash64('gram', 'decontam')} AS gh
      FROM (SELECT unnest(g) AS gram FROM corpus)) c
      WHERE EXISTS (SELECT 1 FROM eh WHERE eh.gh = c.gh)),
    evh AS (SELECT doc_id, {sql_hash64('gram', 'decontam')} AS gh
            FROM (SELECT doc_id, unnest(g) AS gram FROM evals)),
    hits AS (SELECT doc_id, count(DISTINCT gh) AS n
             FROM evh JOIN coll USING (gh) GROUP BY 1)
    SELECT e.doc_id, len(e.g)::BIGINT AS n_grams,
           coalesce(h.n, 0)::BIGINT AS n_hits,
           {sql_quant('coalesce(h.n, 0)::DOUBLE / len(e.g)')} AS hit_rate
    FROM evals e LEFT JOIN hits h USING (doc_id)""",
)
def decontaminate_eval_side(spark, sf_dir):
    """Eval-side contamination view (pipeline/decontam.py:
    eval_overlap) — the transpose of decontaminate_overlap: per EVAL
    item, the fraction of its distinct 8-word-grams found anywhere in
    the training corpus, i.e. which benchmark numbers are already
    compromised (the corpus-side view only says which training docs to
    drop).  The corpus scans once, filtered map-side by the
    probe-gated broadcast eval grams; collided hashes are bounded by
    the eval gram universe, so everything after the scan is
    metadata-sized."""
    from time_series_db_spark.pipeline import decontam

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    out = decontam.eval_overlap(corpus, evals, n=8)
    return out.select(
        "doc_id", "n_grams", "n_hits",
        quant(F.col("hit_rate")).alias("hit_rate"),
    )


@register(
    "decontaminate_bloom",
    f"""WITH corpus AS (SELECT doc_id, {_DECON_SH} AS g FROM documents WHERE doc_id % 20 <> 0),
    evals  AS (SELECT {_DECON_SH} AS g FROM documents WHERE doc_id % 20 = 0),
    eh AS (SELECT DISTINCT {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT unnest(g) AS gram FROM evals)),
    ch AS (SELECT doc_id, {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT doc_id, unnest(g) AS gram FROM corpus)),
    hits AS (SELECT doc_id, count(DISTINCT gh) AS n FROM ch JOIN eh USING (gh) GROUP BY 1)
    SELECT c.doc_id, coalesce(h.n, 0)::BIGINT AS n_collisions,
           coalesce(h.n, 0) >= 1 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)""",
)
def decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination
    (pipeline/decontam.py:bloom_decontaminate): same contract as
    ``decontaminate_ngram`` but the eval side ships as a 128 KB Bloom
    bitmap instead of its raw hash set, and only bloom-surviving grams
    reach the exact-confirm join.  Bloom filters have no false
    negatives and the confirm removes the false positives, so the
    ORACLE IS THE SAME exact-match SQL — the differential proves the
    prefilter is semantics-free."""
    from time_series_db_spark.pipeline import decontam

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    return decontam.bloom_decontaminate(corpus, evals, n=8, min_hits=1)


_TB_W = (1 << 60) // 64


@register(
    "sample_token_budget",
    f"""WITH bl(stratum, budget) AS (
      VALUES ('src0', 600::BIGINT), ('src1', 400::BIGINT),
             ('src2', 250::BIGINT)),
    bt AS (
      SELECT doc_id, source AS stratum,
             len(list_filter({_TOKS}, t -> t <> ''))::BIGINT AS n_tokens,
             {sql_hash64("CAST(doc_id AS VARCHAR)", "budget")} AS p
      FROM documents),
    bk AS (
      SELECT t.*, b.budget, t.p // {_TB_W} AS bucket
      FROM bt t JOIN bl b USING (stratum)),
    bs AS (
      SELECT stratum, budget, bucket, sum(n_tokens) AS btok
      FROM bk GROUP BY 1, 2, 3),
    bc AS (
      SELECT *, sum(btok) OVER (
        PARTITION BY stratum ORDER BY bucket) AS cum
      FROM bs),
    bf AS (
      SELECT stratum, bucket, cum - btok AS prev,
             cum <= budget AS fullb,
             (cum - btok < budget AND cum > budget) AS boundary
      FROM bc),
    whole AS (
      SELECT k.doc_id, k.stratum, k.n_tokens
      FROM bk k JOIN bf f
        ON f.stratum = k.stratum AND f.bucket = k.bucket AND f.fullb),
    part AS (
      SELECT doc_id, stratum, n_tokens FROM (
        SELECT k.doc_id, k.stratum, k.n_tokens, f.prev, k.budget,
               sum(k.n_tokens) OVER (
                 PARTITION BY k.stratum ORDER BY k.p, k.doc_id) AS run
        FROM bk k JOIN bf f
          ON f.stratum = k.stratum AND f.bucket = k.bucket AND f.boundary)
      WHERE prev + run <= budget)
    SELECT * FROM whole UNION ALL SELECT * FROM part""",
)
def sample_token_budget(spark, sf_dir):
    """Token-budget mixing (pipeline/pack.py:sample_token_budget):
    fill per-source TOKEN budgets in fixed md5(id) order — the mixing
    step stated the way training runs state it ("600 tokens of src0,
    400 of src1"), vs sample_mixture's document counts.  The bucketed
    threshold makes it scale-exact: per-(stratum, priority-range-
    bucket) token sums classify buckets as wholly-kept / boundary /
    excluded, and ONLY the boundary bucket pays a per-document
    cumulative sort (property-tested: n_buckets=1 == n_buckets=64,
    pure parallelism); the oracle replays the identical bucket
    arithmetic — all-integer end to end."""
    from time_series_db_spark.pipeline import pack

    out = pack.sample_token_budget(
        _docs(spark, sf_dir), {"src0": 600, "src1": 400, "src2": 250}
    )
    return out.select("doc_id", "stratum", "n_tokens")


@register(
    "sample_mixture",
    """WITH quotas(stratum, target_n) AS (
      VALUES ('de', 12::BIGINT), ('en', 60::BIGINT),
             ('fr', 24::BIGINT), ('zh', 24::BIGINT)),
    r AS (
      SELECT doc_id, lang AS stratum,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents)
    SELECT r.doc_id, r.stratum, r.rnk::BIGINT AS sample_rank, q.target_n
    FROM r JOIN quotas q ON r.stratum = q.stratum
    WHERE r.rnk <= q.target_n""",
)
def sample_mixture(spark, sf_dir):
    """Weighted data-mixture sample (pipeline/pack.py sample_mixture):
    120 documents at target proportions en:.5 fr:.2 zh:.2 de:.1 (es
    excluded) — largest-remainder integer quotas (60/24/24/12), the
    deterministic md5(doc_id) pick order shared with sample_stratified,
    WindowGroupLimit-bounded shuffle."""
    from time_series_db_spark.pipeline import pack

    return pack.sample_mixture(
        _docs(spark, sf_dir),
        weights={"en": 0.5, "fr": 0.2, "zh": 0.2, "de": 0.1},
        budget=120,
    )


def _sql_scrub_chain() -> str:
    """The PII scrub replace chain as one SQL expression (text → text)."""
    s = _NORM
    for kind, pat in text.PII_PATTERNS.items():
        s = f"regexp_replace({s}, '{pat}', '<{kind.upper()}>', 'g')"
    return s


_MH_FULL = _sql_minhash_sig_cte().replace("FROM documents", "FROM fdocs")


@register(
    "pipeline_curate_full",
    f"""WITH feats AS (
      SELECT doc_id, text,
             len({_TOKS})::DOUBLE AS n_tokens,
             len(list_distinct({_TOKS}))::DOUBLE AS n_uniq,
             len(list_filter({_TOKS}, tok -> tok IN ({_SQL_EN_STOP})))::DOUBLE AS stop
      FROM documents),
    kept AS (
      SELECT doc_id, text FROM feats
      WHERE least(n_tokens / 100.0, 1.0) * 0.4 + (n_uniq / n_tokens) * 0.4
            + least((stop / n_tokens) * 5.0, 1.0) * 0.2 >= 0.55),
    fdocs AS (SELECT doc_id, {_sql_scrub_chain()} AS text FROM kept),
    {_MH_FULL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= 0.8),
    surv AS (
      SELECT f.doc_id, f.text FROM fdocs f
      WHERE NOT EXISTS (SELECT 1 FROM verified v WHERE v.id_b = f.doc_id)),
    corpus AS (SELECT * FROM surv WHERE doc_id % 20 <> 0),
    evals AS (SELECT {_DECON_SH} AS g FROM documents WHERE doc_id % 20 = 0),
    eh AS (SELECT DISTINCT {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT unnest(g) AS gram FROM evals)),
    ch AS (SELECT doc_id, {sql_hash64('gram', 'decontam')} AS gh
           FROM (SELECT doc_id, unnest({_DECON_SH}) AS gram FROM corpus)),
    hits AS (SELECT doc_id, count(DISTINCT gh) AS n
             FROM ch JOIN eh USING (gh) GROUP BY 1),
    clean AS (
      SELECT c.doc_id, c.text FROM corpus c
      LEFT JOIN hits h USING (doc_id) WHERE coalesce(h.n, 0) = 0),
    base AS (
      SELECT doc_id,
             {_SHARD_SQL.replace('% 64', '% 16')} AS shard,
             len(string_split({_NORM}, ' '))::BIGINT AS n_tokens
      FROM clean),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM base)
    SELECT doc_id, shard, (start_offset // 256)::BIGINT AS pack_id,
           start_offset::BIGINT AS start_offset, n_tokens
    FROM packed""",
)
def pipeline_curate_full(spark, sf_dir):
    """The COMPLETE pretraining curation funnel in one verified plan:
    quality filter (composite ≥ 0.55) → PII scrub → MinHash+LSH near-dup
    drop (any document with a smaller-id partner at Jaccard ≥ 0.8 on the
    scrubbed text; greedy keep-first, the min-id convention every dedup
    entry uses) → benchmark decontamination (every 20th RAW document
    plays the held-out eval set; eval members themselves leave the
    corpus) → 256-token sequence packing across 16 hash shards.

    Each stage is the already-verified operator — this entry pins the
    INTEGRATION: stage order, which text each stage reads (scrubbed for
    dedup/decontam, raw for the eval side), and the funnel's survivors.
    One linear pass of bounded shuffles: quality/scrub are scan-side,
    dedup shuffles on LSH buckets, decontamination on broadcast-filtered
    collisions, packing on the shard id."""
    from time_series_db_spark.pipeline import decontam, pack

    docs = _docs(spark, sf_dir)
    q = (
        text.quality_score(docs)
        .filter(F.col("quality") >= 0.55)
        .select("doc_id")
    )
    kept = docs.join(q, "doc_id")
    scrub = text.pii_scrub(kept).select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    pairs = dedup.minhash_dedup_pairs(scrub, threshold=0.8)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = scrub.join(dropped, "doc_id", "left_anti")
    corpus = surv.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    flags = decontam.decontaminate(corpus, evals, n=8, min_hits=1)
    clean = corpus.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    return pack.pack_sequences(clean, budget=256, n_shards=16)


@register(
    "dedup_exact_substring",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    chunks AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_idx,
             array_to_string(w[(t.i*16+1):((t.i+1)*16)], ' ') AS chunk
      FROM toks CROSS JOIN UNNEST(range(0, CAST(ceil(len(w)/16.0) AS BIGINT))) AS t(i)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id, count(*)::BIGINT AS n_chunks,
           sum(CASE WHEN rn=1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN rn=1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS text_clean
    FROM ranked GROUP BY doc_id""",
)
def dedup_exact_substring(spark, sf_dir):
    """Chunk-level exact-substring dedup (Lee et al. 2022 adaptation):
    global first-occurrence-wins over tumbling 16-word chunks; oracle
    dedups on the chunk string, Spark on its xxhash64 — a hash collision
    would surface as a differential mismatch, not hide."""
    return dedup.exact_substring_dedup(_docs(spark, sf_dir))


@register(
    "dedup_boilerplate_spans",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS span_idx,
             array_to_string(w[(t.i*3+1):((t.i+1)*3)], ' ') AS span
      FROM toks CROSS JOIN UNNEST(range(0, CAST(ceil(len(w)/3.0) AS BIGINT))) AS t(i)
    ),
    prev AS (
      SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs
      FROM spans GROUP BY span
    )
    SELECT s.doc_id, count(*)::BIGINT AS n_spans,
           sum(CASE WHEN p.n_docs >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           coalesce(string_agg(CASE WHEN p.n_docs < 3 THEN s.span END,
                               ' ' ORDER BY s.span_idx), '') AS text_clean
    FROM spans s JOIN prev p ON s.span = p.span
    GROUP BY s.doc_id""",
)
def dedup_boilerplate_spans(spark, sf_dir):
    """Boilerplate removal (pipeline/dedup.py:boilerplate_span_removal):
    tumbling 3-word spans present in ≥3 distinct documents are template
    text and cut from ALL documents — the MassiveText/RefinedWeb
    line-dedup policy, the opposite keep-rule from
    dedup_exact_substring's first-occurrence-wins.  The oracle counts
    prevalence on the span STRING while Spark groups on its 64-bit
    hash, so a hash collision surfaces as a differential mismatch."""
    return dedup.boilerplate_span_removal(
        _docs(spark, sf_dir), span_words=3, min_docs=3
    )


@register(
    "text_compressibility",
    f"""WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
      FROM documents),
    counts AS (
      SELECT doc_id, token, count(*)::DOUBLE AS c
      FROM toks WHERE token <> '' GROUP BY doc_id, token),
    agg AS (
      SELECT doc_id, sum(c) AS n, count(*)::BIGINT AS n_distinct,
             sum(c * log2(c)) AS clogc
      FROM counts GROUP BY doc_id)
    SELECT doc_id, n::BIGINT AS n_tokens, n_distinct,
           {sql_quant('n_distinct / n')} AS distinct_ratio,
           {sql_quant('log2(n) - clogc / n')} AS entropy
    FROM agg""",
)
def text_compressibility(spark, sf_dir):
    """Token-entropy compressibility proxy (order-0 source-coding bound;
    the oracle-able stand-in for the zlib ratio, which stays a
    non-catalog operator — pipeline/text.py:compression_ratio — behind
    its in-process-zlib unit test, since DuckDB cannot deflate)."""
    out = text.compressibility(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        quant(F.col("distinct_ratio")).alias("distinct_ratio"),
        quant(F.col("entropy")).alias("entropy"),
    )


@register(
    "text_vocab_count",
    f"""WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents),
    counts AS (
      SELECT token, count(*)::BIGINT AS count FROM toks
      WHERE token <> '' GROUP BY token),
    ranked AS (
      SELECT token, count,
             row_number() OVER (ORDER BY count DESC, token)::BIGINT AS rank
      FROM counts)
    SELECT token, count, rank FROM ranked WHERE rank <= 50""",
)
def text_vocab_count(spark, sf_dir):
    """Corpus word-frequency top-50 (BPE vocab-induction first pass):
    explode + partial-agg count, TakeOrdered cut."""
    return text.vocab_count(_docs(spark, sf_dir), top_n=50)


@register(
    "text_tfidf_terms",
    f"""WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
      WHERE term <> '' GROUP BY 1, 2),
    dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*)::BIGINT AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf::DOUBLE
               * (ln((nd.n + 1)::DOUBLE / (dfq.df + 1)::DOUBLE)
                  + 1.0::DOUBLE) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN nd),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term
             )::BIGINT AS rank
      FROM scored)
    SELECT doc_id, term, tf, {sql_quant('score')} AS score, rank
    FROM ranked WHERE rank <= 3""",
)
def text_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords (pipeline/text.py:
    tfidf_terms, the sklearn smoothed-idf formulation): document
    routing / cluster labeling / retrieval seeding.  One corpus scan,
    partial-aggregated tf and df tables, probe-gated df broadcast,
    1-row corpus total, per-doc WindowGroupLimit cut.  Equal (tf, df)
    pairs score bit-identically on both engines, so the term tiebreak
    pins rank order without pinning ln itself."""
    out = text.tfidf_terms(_docs(spark, sf_dir), k=3)
    return out.select(
        "doc_id", "term", "tf", quant(F.col("score")).alias("score"), "rank"
    )


@register(
    "embedding_quantize",
    """WITH dv AS (
      -- cast elements to DOUBLE first: the sf0.01 parquet stores
      -- float32 embeddings, and float32 arithmetic would diverge from
      -- Spark's cast-then-compute double path
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
    scaled AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM dv),
    quant AS (
      SELECT vec_id, scale, v,
             list_transform(
               v,
               x -> CASE WHEN scale = 0 THEN 0
                    ELSE greatest(-127, least(127,
                         CAST(floor(x / scale + 0.5) AS INT))) END
             ) AS q
      FROM scaled)
    SELECT vec_id,
           CAST(floor(scale * 10000.0 + 0.5) / 10000 AS DOUBLE) AS scale,
           array_to_string(q, ',') AS q_str,
           CAST(floor(sqrt(
             list_sum(list_transform(
               list_zip(v, q),
               p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)
             )) / len(v)
           ) * 10000.0 + 0.5) / 10000 AS DOUBLE) AS recon_rmse
    FROM quant""",
)
def embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization differential: identical floor-half-up
    rounding and clamping on both engines; q emitted as a joined string
    for engine-portable value hashing."""
    out = ann.quantize_embeddings(_embs(spark, sf_dir))
    return out.select(
        "vec_id",
        quant(F.col("scale")).alias("scale"),
        F.array_join(F.col("q"), ",").alias("q_str"),
        quant(F.col("recon_rmse")).alias("recon_rmse"),
    )


def _sql_jl(d_in: int = 64, d_out: int = 16) -> str:
    """Oracle twin of ann.project_jl: the SAME deterministic sign matrix
    rendered as SQL literals (single Python source for both engines)."""
    import math

    r = ann.jl_sign_matrix(d_in, d_out)
    inv = 1.0 / math.sqrt(d_out)
    cols = []
    for j in range(d_out):
        signs = ", ".join(str(float(r[i][j])) for i in range(d_in))
        dot = (
            "list_sum(list_transform(list_zip(v, [" + signs + "]), "
            "p -> p[1] * p[2])) * " + repr(inv)
        )
        cols.append(sql_quant(dot) + f" AS p{j}")
    sel = ",\n           ".join(cols)
    return (
        "WITH dv AS (SELECT vec_id,"
        " list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)\n"
        f"    SELECT vec_id,\n           {sel}\n    FROM dv"
    )


@register("embedding_project_jl", _sql_jl())
def embedding_project_jl(spark, sf_dir):
    """JL ±1 random projection 64→16: compile-time literal sign matrix,
    whole-stage-codegen column math — no shuffle, no UDF (plan-gated)."""
    out = ann.project_jl(_embs(spark, sf_dir))
    return out.select(
        "vec_id", *[quant(F.col(f"p{j}")).alias(f"p{j}") for j in range(16)]
    )


@register(
    "embedding_pca",
    f"""WITH dv AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
    pairs AS (
      SELECT a.i::BIGINT AS i, b.i::BIGINT AS j
      FROM range(64) a(i), range(64) b(i) WHERE b.i >= a.i),
    stats AS (
      SELECT p.i, p.j, count(*)::BIGINT AS n,
             sum(v[p.i + 1]) AS sxi, sum(v[p.j + 1]) AS sxj,
             sum(v[p.i + 1] * v[p.j + 1]) AS sxx
      FROM pairs p CROSS JOIN dv
      GROUP BY p.i, p.j)
    SELECT i, j, n,
           {sql_quant('sxi / n')} AS mean_i,
           {sql_quant('sxj / n')} AS mean_j,
           {sql_quant('sxx / n - (sxi / n) * (sxj / n)')} AS cov
    FROM stats""",
)
def embedding_pca(spark, sf_dir):
    """The distributed half of PCA, driver-verified: the covariance/mean
    accumulator over the upper triangle — ONE corpus aggregation, the
    exact input pca_fit eigendecomposes (pipeline/ann.py:pca_cov_frame).
    The d×d driver-side eigh and the codegen projection have no SQL twin
    and stay pinned by the numpy unit test (tests/test_pipeline.py)."""
    out = ann.pca_cov_frame(_embs(spark, sf_dir), d_in=64)
    return out.select(
        "i",
        "j",
        "n",
        quant(F.col("mean_i")).alias("mean_i"),
        quant(F.col("mean_j")).alias("mean_j"),
        quant(F.col("cov")).alias("cov"),
    )


@register(
    "ann_cosine_topk_int8",
    f"""WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
    scaled AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM dv),
    qv AS (
      SELECT vec_id,
             list_transform(
               v,
               x -> CASE WHEN scale = 0 THEN 0.0
                    ELSE CAST(greatest(-127, least(127,
                         CAST(floor(x / scale + 0.5) AS INT))) AS DOUBLE) END
             ) AS q
      FROM scaled),
    qs AS (SELECT vec_id, q FROM qv WHERE vec_id % 50 = 0),
    scored AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('qs.q', 'c.q')} AS cosine
      FROM qs JOIN qv c ON c.vec_id <> qs.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id
      ) AS rank FROM scored)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine
    FROM ranked WHERE rank <= 5""",
)
def ann_cosine_topk_int8(spark, sf_dir):
    """Int8-quantized cosine top-5 (scales cancel → pure integer MAC):
    the serving-memory path, same plan shape as the float baseline."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.cosine_topk_int8(embs, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", quant(F.col("cosine")).alias("cosine")
    )


_LM_L1 = repr(0.9)
_LM_L2 = repr(1.0 - 0.9)

#: full LM-perplexity oracle query — also nested as a CTE body by the
#: ppl-buckets oracle (DuckDB allows WITH inside a derived subquery)
_LM_PPL_SQL = f"""WITH toks AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS pos, w[t.i] AS token
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents) d
      CROSS JOIN UNNEST(range(1, len(w) + 1)) AS t(i)
      WHERE w[t.i] <> ''
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        FROM toks GROUP BY token) WHERE rn <= 200
    ),
    mapped AS (
      SELECT t.doc_id, t.pos,
             CASE WHEN v.token IS NULL THEN '<unk>' ELSE t.token END AS w
      FROM toks t LEFT JOIN vocab v USING (token)
    ),
    big AS (
      SELECT doc_id,
             coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS v,
             w
      FROM mapped
    ),
    uni AS (SELECT w, count(*)::DOUBLE AS c_w FROM big GROUP BY w),
    ctx AS (SELECT v, count(*)::DOUBLE AS c_v FROM big GROUP BY v),
    bi  AS (SELECT v, w, count(*)::DOUBLE AS c_vw FROM big GROUP BY v, w),
    tot AS (SELECT count(*)::DOUBLE AS t_n FROM big),
    scored AS (
      SELECT b.doc_id,
             ln(({_LM_L1} * (bi.c_vw / ctx.c_v))
                + ({_LM_L2} * (uni.c_w / tot.t_n))) AS logp
      FROM big b
      JOIN bi ON b.v = bi.v AND b.w = bi.w
      JOIN ctx ON b.v = ctx.v
      JOIN uni ON b.w = uni.w
      CROSS JOIN tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           {sql_quant('exp(-avg(logp))')} AS perplexity
    FROM scored GROUP BY doc_id"""


_LM_THIRD = repr(1.0 / 3.0)
_LM_TWO_THIRDS = repr(2.0 / 3.0)


@register("text_lm_perplexity", _LM_PPL_SQL)
def text_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality signal (arXiv:1911.00359): perplexity under
    a corpus-trained interpolated bigram LM, 200-token vocab + <unk>.
    Oracle replays the identical training + scoring algebra as SQL CTEs
    (same tie-breaks, same interpolation constants)."""
    out = text.lm_perplexity(_docs(spark, sf_dir), vocab_size=200, lam=0.9)
    return out.select(
        "doc_id",
        "n_tokens",
        quant(F.col("perplexity")).alias("perplexity"),
    )


@register(
    "text_ppl_buckets",
    f"""WITH ppl AS ({_LM_PPL_SQL}),
    lang AS ({_sql_langid()}),
    j AS (
      SELECT p.doc_id, l.pred_lang, p.perplexity
      FROM ppl p JOIN lang l USING (doc_id)),
    th AS (
      SELECT pred_lang,
             {sql_quant(f'quantile_cont(perplexity, {_LM_THIRD})')} AS t1,
             {sql_quant(f'quantile_cont(perplexity, {_LM_TWO_THIRDS})')} AS t2
      FROM j GROUP BY pred_lang)
    SELECT j.doc_id, j.pred_lang, j.perplexity,
           CASE WHEN j.perplexity <= th.t1 THEN 'head'
                WHEN j.perplexity <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM j JOIN th USING (pred_lang)""",
)
def text_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (arXiv:1911.00359 §4.3): per-language
    perplexity tertiles via metadata-sized threshold aggregate +
    broadcast-back comparison (never an ntile global sort). The gate's
    quantizer rounds scores AND thresholds on both sides so the
    comparisons are engine-exact."""
    return text.ppl_buckets(
        _docs(spark, sf_dir), vocab_size=200, lam=0.9, score_round=quant
    )


# ---------------------------------------------------------------------------
# retrieval / importance weighting (r6)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "spark", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _sql_bm25_ctes() -> str:
    """Okapi BM25 scoring replay up to a global ``ranked`` CTE —
    shared by the plain retrieval entry and the hybrid PRF rerank."""
    return f"""base AS (
      SELECT doc_id,
             len(list_filter(string_split({_NORM}, ' '), t -> t <> ''))::DOUBLE
               AS dl,
             string_split({_NORM}, ' ') AS toks
      FROM documents),
    stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base),
    hits AS (
      SELECT doc_id, dl, unnest(toks) AS term FROM base),
    matched AS (
      SELECT doc_id, dl, term FROM hits
      WHERE term IN {repr(_BM25_TERMS)}),
    tf AS (
      SELECT doc_id, term, count(*)::DOUBLE AS tf, first(dl) AS dl
      FROM matched GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*)::DOUBLE AS df_t FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                 * tf * {_BM25_K1 + 1.0!r}
                 / (tf + {_BM25_K1!r}
                    * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl)))
               AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN stats
      GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
      FROM scored)"""


@register(
    "search_bm25",
    f"""WITH {_sql_bm25_ctes()}
    SELECT doc_id, {sql_quant('score')} AS score, rank
    FROM ranked WHERE rank <= 10""",
)
def search_bm25(spark, sf_dir):
    """Okapi BM25 top-10 keyword retrieval (pipeline/retrieval.py) —
    postings filtered to the query's terms before any shuffle, ≤|query|
    document frequencies + 1-row corpus stats broadcast, partial top-k
    cut."""
    from time_series_db_spark.pipeline import retrieval

    out = retrieval.bm25_topk(
        _docs(spark, sf_dir), " ".join(_BM25_TERMS), k=10,
        k1=_BM25_K1, b=_BM25_B,
    )
    return out.select(
        "doc_id", quant(F.col("score")).alias("score"), "rank"
    )


@register(
    "search_hybrid_rerank",
    f"""WITH {_sql_bm25_ctes()},
    short AS (SELECT doc_id, score, rank FROM ranked WHERE rank <= 20),
    semb AS (
      SELECT s.doc_id, s.score, s.rank, e.embedding::DOUBLE[] AS v
      FROM short s JOIN embeddings e ON e.vec_id = s.doc_id),
    sdim AS (
      SELECT t.dim, CAST(sum(CAST(t.x AS DECIMAL(27,9))) AS DOUBLE)
               / count(*) AS m
      FROM (SELECT unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS dim
            FROM semb WHERE rank <= 3) t
      GROUP BY 1),
    cent AS (SELECT list(m ORDER BY dim) AS q FROM sdim),
    rer AS (
      SELECT s.doc_id, s.score AS bm25_score,
             {_sql_cosine('c.q', 's.v')} AS cosine
      FROM semb s CROSS JOIN cent c),
    rr AS (
      SELECT doc_id, bm25_score, cosine,
             row_number() OVER (ORDER BY cosine DESC, doc_id)::BIGINT
               AS rank
      FROM rer)
    SELECT doc_id, {sql_quant('bm25_score')} AS bm25_score,
           {sql_quant('cosine')} AS cosine, rank
    FROM rr WHERE rank <= 5""",
)
def search_hybrid_rerank(spark, sf_dir):
    """Two-stage hybrid retrieval
    (pipeline/retrieval.py:bm25_prf_rerank) — the lexical-then-dense
    RAG stack: BM25 shortlists 20 documents, the dense query vector is
    the exact-decimal centroid of the top-3 hits' embeddings
    (Rocchio-style pseudo-relevance feedback), and the shortlist
    reranks by cosine.  Stage 2 touches only the shortlist: its ids
    broadcast into the embeddings scan, the centroid is a one-row
    broadcast — the corpus is never rescanned densely."""
    from time_series_db_spark.pipeline import retrieval

    out = retrieval.bm25_prf_rerank(
        _docs(spark, sf_dir), _embs(spark, sf_dir),
        " ".join(_BM25_TERMS), k=5, n_short=20, n_seed=3,
        k1=_BM25_K1, b=_BM25_B,
    )
    return out.select(
        "doc_id",
        quant(F.col("bm25_score")).alias("bm25_score"),
        quant(F.col("cosine")).alias("cosine"),
        "rank",
    )


_DSIR_B = 64


@register(
    "sample_importance_dsir",
    f"""WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(string_split({_NORM}, ' ')) AS token
      FROM documents),
    tt AS (
      SELECT doc_id, is_t, token,
             {sql_hash64('token')} % {_DSIR_B} AS bucket
      FROM toks WHERE token <> ''),
    counts AS (
      SELECT bucket,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::DOUBLE AS c_t,
             count(*)::DOUBLE AS c_r
      FROM tt GROUP BY bucket),
    tot AS (SELECT sum(c_t) AS t_t, sum(c_r) AS t_r FROM counts),
    lr AS (
      SELECT bucket,
             ln((c_t + 1.0) / (t_t + {float(_DSIR_B)!r}))
               - ln((c_r + 1.0) / (t_r + {float(_DSIR_B)!r})) AS lr
      FROM counts CROSS JOIN tot)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           {sql_quant('sum(lr)')} AS weight
    FROM tt JOIN lr USING (bucket) GROUP BY doc_id""",
)
def sample_importance_dsir(spark, sf_dir):
    """DSIR importance weights (arXiv:2302.03169) with lang='en' as the
    target domain: hashed-unigram log-likelihood ratios from two
    fixed-size (n_buckets-row) broadcast count tables — the importance
    model never grows with the corpus."""
    from time_series_db_spark.pipeline import retrieval

    out = retrieval.dsir_log_weights(
        _docs(spark, sf_dir), F.col("lang") == "en", n_buckets=_DSIR_B
    )
    return out.select(
        "doc_id", "n_tokens", quant(F.col("weight")).alias("weight")
    )


_TEMP_ALPHA = 0.5
_TEMP_BUDGET = 120


@register(
    "sample_lang_temperature",
    f"""WITH counts AS (
      SELECT lang AS stratum, count(*)::DOUBLE AS n FROM documents
      GROUP BY 1),
    wts AS (SELECT stratum, pow(n, {_TEMP_ALPHA!r}) AS w FROM counts),
    tot AS (SELECT sum(w) AS tw FROM wts),
    q AS (
      SELECT stratum, {_TEMP_BUDGET} * w / tw AS quota
      FROM wts CROSS JOIN tot),
    base AS (
      SELECT stratum, floor(quota)::BIGINT AS b, quota - floor(quota) AS rem
      FROM q),
    short AS (SELECT {_TEMP_BUDGET} - sum(b) AS s FROM base),
    give AS (
      SELECT stratum,
             row_number() OVER (ORDER BY rem DESC, stratum) AS rr
      FROM base),
    quotas AS (
      SELECT b.stratum,
             b.b + CASE WHEN g.rr <= (SELECT s FROM short) THEN 1 ELSE 0 END
               AS target_n
      FROM base b JOIN give g USING (stratum)),
    ranked AS (
      SELECT doc_id, lang AS stratum,
             row_number() OVER (
               PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
             )::BIGINT AS sample_rank
      FROM documents)
    SELECT r.doc_id, r.stratum, r.sample_rank, q.target_n
    FROM ranked r JOIN quotas q USING (stratum)
    WHERE r.sample_rank <= q.target_n""",
)
def sample_lang_temperature(spark, sf_dir):
    """Temperature-balanced (n^alpha) multilingual mixture — the XLM-R /
    mT5 up-sampling rule as exact largest-remainder quotas over the
    corpus language counts, drawn in the deterministic md5(id) order
    (WindowGroupLimit partial top-n; quotas broadcast)."""
    from time_series_db_spark.pipeline import retrieval

    return retrieval.sample_temperature(
        _docs(spark, sf_dir), alpha=_TEMP_ALPHA, budget=_TEMP_BUDGET
    )


# ---------------------------------------------------------------------------
# temporal joins (operators/temporal.py) — as-of, bounded-range, funnel
# ---------------------------------------------------------------------------

def _events_ms(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@register(
    "events_asof_join",
    """WITH p AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts, value
      FROM events WHERE event_type = 'purchase'),
    c0 AS (
      SELECT user_id, epoch_ms(ts) AS ts, value, event_id
      FROM events WHERE event_type = 'click'),
    c AS (
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM c0 GROUP BY 1, 2)
    SELECT p.event_id, p.user_id AS "user", p.ts,
           p.value AS purchase_value, c.ts AS click_ts,
           c.value AS click_value, p.ts - c.ts AS gap_ms
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def events_asof_join(spark, sf_dir):
    """Backward as-of join (kdb+ ``aj`` / DuckDB ``ASOF JOIN``): each
    purchase gains the user's latest at-or-before click.  The Spark
    plan is the union trick — ONE exchange on user, a running
    last(ignorenulls) window, no inequality join (gated: no
    BroadcastNestedLoopJoin) — while the oracle uses DuckDB's native
    ASOF LEFT JOIN, so the differential crosses two independent
    as-of implementations."""
    from time_series_db_spark.operators.temporal import asof_join

    ev = _events_ms(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    j = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        right_cols=["value"], tiebreak_col="event_id",
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    return j.select(
        F.col("event_id"),
        F.col("user_id").alias("user"),
        ts_ms.alias("ts"),
        F.col("value").alias("purchase_value"),
        F.col("ts_r").alias("click_ts"),
        F.col("value_r").alias("click_value"),
        (ts_ms - F.col("ts_r")).alias("gap_ms"),
    )


@register(
    "events_range_join",
    """WITH e AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts
      FROM events WHERE event_type = 'error'),
    c AS (
      SELECT user_id, epoch_ms(ts) AS ts
      FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id AS "user", e.ts,
           count(c.ts)::BIGINT AS n_nearby,
           min(abs(c.ts - e.ts)) AS nearest_gap_ms
    FROM e LEFT JOIN c
      ON e.user_id = c.user_id AND abs(c.ts - e.ts) <= 1800000
    GROUP BY 1, 2, 3""",
)
def events_range_join(spark, sf_dir):
    """Bounded-range join: clicks within ±30 min of each error, same
    user — the correlation probe behind "what surrounded this error".
    Spark buckets time at the radius and EQUI-joins on (user, bucket±1)
    + exact |Δt| filter (gated: no CartesianProduct), where the naive
    inequality join the oracle runs would be per-key quadratic."""
    from time_series_db_spark.operators.temporal import range_join

    ev = _events_ms(spark, sf_dir)
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", ts_ms.alias("ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", ts_ms.alias("ts")
    )
    pairs = range_join(
        errors, clicks, on=["user_id"], ts_col="ts",
        radius_ms=1_800_000, build_cols=[],
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.min(F.abs(F.col("gap_ms_n"))).alias("nearest_gap_ms"),
    )
    return errors.join(agg, "event_id", "left").select(
        F.col("event_id"),
        F.col("user_id").alias("user"),
        F.col("ts"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_nearby"),
        F.col("nearest_gap_ms"),
    )


@register(
    "events_funnel",
    """WITH ev AS (
      SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS ts
      FROM events),
    su AS (SELECT u, min(ts) AS signup_ts FROM ev
           WHERE et = 'signup' GROUP BY 1),
    cl AS (SELECT ev.u, min(ev.ts) AS click_ts FROM ev
           JOIN su ON ev.u = su.u AND ev.ts >= su.signup_ts
           WHERE et = 'click' GROUP BY 1),
    pu AS (SELECT ev.u, min(ev.ts) AS purchase_ts FROM ev
           JOIN cl ON ev.u = cl.u AND ev.ts >= cl.click_ts
           WHERE et = 'purchase' GROUP BY 1)
    SELECT su.u AS "user", su.signup_ts, cl.click_ts, pu.purchase_ts,
           (1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END
              + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END)::BIGINT
             AS steps_completed
    FROM su LEFT JOIN cl ON su.u = cl.u LEFT JOIN pu ON su.u = pu.u""",
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel signup → click → purchase with
    first-touch semantics: each step's timestamp is the earliest
    occurrence at-or-after the previous step's.  Per-step state is one
    row per user; all joins are equi on the user key."""
    from time_series_db_spark.operators.temporal import funnel

    return funnel(
        _events_ms(spark, sf_dir), ["signup", "click", "purchase"]
    )


@register(
    "events_funnel_latency",
    """WITH ev AS (
      SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS ts
      FROM events),
    su AS (SELECT u, min(ts) AS signup_ts FROM ev
           WHERE et = 'signup' GROUP BY 1),
    cl AS (SELECT ev.u, min(ev.ts) AS click_ts FROM ev
           JOIN su ON ev.u = su.u AND ev.ts >= su.signup_ts
           WHERE et = 'click' GROUP BY 1),
    pu AS (SELECT ev.u, min(ev.ts) AS purchase_ts FROM ev
           JOIN cl ON ev.u = cl.u AND ev.ts >= cl.click_ts
           WHERE et = 'purchase' GROUP BY 1),
    fu AS (SELECT su.u, su.signup_ts, cl.click_ts, pu.purchase_ts
           FROM su LEFT JOIN cl ON su.u = cl.u
           LEFT JOIN pu ON su.u = pu.u),
    lat AS (
      SELECT 'signup->click' AS transition,
             click_ts - signup_ts AS l FROM fu WHERE click_ts IS NOT NULL
      UNION ALL
      SELECT 'click->purchase', purchase_ts - click_ts FROM fu
      WHERE purchase_ts IS NOT NULL
      UNION ALL
      SELECT 'signup->purchase', purchase_ts - signup_ts FROM fu
      WHERE purchase_ts IS NOT NULL)
    SELECT transition, count(*)::BIGINT AS n_users,
           {mean} AS mean_ms,
           {p50} AS p50_ms,
           {p90} AS p90_ms
    FROM lat GROUP BY transition""".format(
        mean=sql_quant("CAST(sum(l) AS DOUBLE) / count(*)"),
        p50=sql_quant("quantile_cont(l, 0.5)"),
        p90=sql_quant("quantile_cont(l, 0.9)"),
    ),
)
def events_funnel_latency(spark, sf_dir):
    """Time-to-conversion distribution
    (operators/temporal.py:funnel_latency): per funnel transition
    (signup→click, click→purchase, and end-to-end signup→purchase),
    completing-user count, exact-integer mean latency and exact
    interpolated p50/p90 — the question the per-user funnel table
    answers only after one more aggregation.  Quantiles use the same
    linear interpolation on both engines over integer millisecond
    latencies (the summarize-percentile discipline)."""
    from time_series_db_spark.operators.temporal import funnel_latency

    out = funnel_latency(
        _events_ms(spark, sf_dir), ["signup", "click", "purchase"],
        quantiles=(0.5, 0.9),
    )
    return out.select(
        "transition", "n_users",
        quant(F.col("mean_ms")).alias("mean_ms"),
        quant(F.col("p50_ms")).alias("p50_ms"),
        quant(F.col("p90_ms")).alias("p90_ms"),
    )


@register(
    "text_pmi_bigrams",
    f"""WITH toks AS (SELECT {_TOKS} AS t FROM documents),
    u AS (SELECT unnest(t) AS w FROM toks),
    uni AS (SELECT w, count(*)::BIGINT AS c FROM u
            WHERE w <> '' GROUP BY w),
    tot AS (SELECT sum(c)::BIGINT AS n FROM uni),
    bi AS (SELECT unnest([struct_pack(w1 := t[i], w2 := t[i + 1])
                          for i in generate_series(1, len(t) - 1)],
                         recursive := true) FROM toks),
    bc AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM bi
           WHERE w1 <> '' AND w2 <> ''
           GROUP BY 1, 2 HAVING count(*) >= 5)
    SELECT bc.w1, bc.w2, bc.c_xy,
           {sql_quant("ln((bc.c_xy * tot.n)::DOUBLE / (u1.c * u2.c)::DOUBLE)")}
             AS pmi
    FROM bc, tot
    JOIN uni u1 ON u1.w = bc.w1
    JOIN uni u2 ON u2.w = bc.w2""",
)
def text_pmi_bigrams(spark, sf_dir):
    """PMI collocation mining (Church & Hanks) over adjacent token
    pairs with count >= 5 — the phrase-merge signal before vocabulary
    induction.  Integer-exact counts; the single ln() is quantized on
    both engines to absorb libm ULP skew."""
    from time_series_db_spark.pipeline.text import pmi_bigrams

    r = pmi_bigrams(_docs(spark, sf_dir), min_count=5)
    return r.select(
        "w1", "w2", "c_xy", quant(F.col("pmi")).alias("pmi")
    )


@register(
    "events_retention",
    """WITH ev AS (
      SELECT DISTINCT user_id AS u,
             epoch_ms(ts) - epoch_ms(ts) % 86400000 AS bucket
      FROM events),
    cohort AS (SELECT u, min(bucket) AS cohort_ts FROM ev GROUP BY 1)
    SELECT c.cohort_ts,
           ((e.bucket - c.cohort_ts) // 86400000)::BIGINT AS bucket_offset,
           count(*)::BIGINT AS n_active
    FROM ev e JOIN cohort c ON e.u = c.u
    GROUP BY 1, 2""",
)
def events_retention(spark, sf_dir):
    """Daily cohort-retention triangle: users cohorted by first-event
    day, counted per (cohort, day-offset) cell.  The activity stream is
    deduplicated to (user, day) map-side before any join, and the
    cohort table is one min-row per user equi-joined on the same key."""
    from time_series_db_spark.operators.temporal import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# product quantization (pipeline/ann.py) — codes + ADC search oracles
# ---------------------------------------------------------------------------

def _sql_l2sq(a: str, b: str) -> str:
    """Squared L2 as the same sequential left-fold ann.l2sq_expr uses."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"[(({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i]) "
        f"for i in generate_series(1, len({a}))]), (acc, x) -> acc + x)"
    )


def _sql_pq_ctes(m: int, k: int, iters: int, dims: int = 64) -> str:
    """CTE chain mirroring ann.pq_codebooks + ann.pq_encode: per-subspace
    slices, unrolled Lloyd rounds keyed by subspace (exact-decimal dim
    means, empty cells keep their codeword), then the final-codebook
    assignment as (vec_id, s, cid) rows and packed code lists."""
    sub = dims // m
    sql = f"""es AS (
      SELECT vec_id, s, v[(s * {sub} + 1):((s + 1) * {sub})] AS sv
      FROM e, generate_series(0, {m - 1}) t(s)),
    pc0 AS (SELECT s, vec_id::BIGINT AS cid, sv AS cent
            FROM es WHERE vec_id < {k})"""
    for t in range(iters):
        sql += f""",
    pa{t} AS (
      SELECT es.vec_id, es.s, es.sv, c.cid,
             row_number() OVER (
               PARTITION BY es.vec_id, es.s
               ORDER BY {_sql_l2sq('es.sv', 'c.cent')} ASC, c.cid
             ) AS rn
      FROM es JOIN pc{t} c ON c.s = es.s),
    pb{t} AS (SELECT vec_id, s, sv, cid FROM pa{t} WHERE rn = 1),
    pd{t} AS (
      SELECT s, cid, i,
             CAST(sum(CAST(sv[i] AS DECIMAL(27,9))) AS DOUBLE) / count(*)
               AS dm
      FROM pb{t}, generate_series(1, {sub}) t(i)
      GROUP BY s, cid, i),
    pn{t} AS (SELECT s, cid, list(dm ORDER BY i) AS cent
              FROM pd{t} GROUP BY s, cid),
    pc{t + 1} AS (
      SELECT c.s, c.cid, COALESCE(n.cent, c.cent) AS cent
      FROM pc{t} c LEFT JOIN pn{t} n ON n.s = c.s AND n.cid = c.cid)"""
    sql += f""",
    pq_enc0 AS (
      SELECT es.vec_id, es.s, c.cid,
             row_number() OVER (
               PARTITION BY es.vec_id, es.s
               ORDER BY {_sql_l2sq('es.sv', 'c.cent')} ASC, c.cid
             ) AS rn
      FROM es JOIN pc{iters} c ON c.s = es.s),
    pq_enc AS (SELECT vec_id, s, cid FROM pq_enc0 WHERE rn = 1),
    pq_codes AS (
      SELECT vec_id, list(cid ORDER BY s) AS codes
      FROM pq_enc GROUP BY vec_id)"""
    return sql


_PQ_M, _PQ_K, _PQ_ITERS = 16, 16, 1
_PQ_CTES = _sql_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS)


@register(
    "embedding_pq_codes",
    f"""WITH e AS ({_SQL_E}),
    {_PQ_CTES}
    SELECT vec_id, s::BIGINT AS subspace, cid::BIGINT AS code
    FROM pq_enc""",
)
def embedding_pq_codes(spark, sf_dir):
    """PQ encoding (Jégou et al. 2011): 16 subspaces × 16 codewords
    trained by the same deterministic Lloyd round as the IVF coarse
    quantizer — a 64-dim float64 vector becomes 16 4-bit codes (512
    bytes → 8).  The oracle unrolls the per-subspace training and the
    final assignment.  Output is exploded to one (vec_id, subspace,
    code) row per sub-code: the packed ARRAY<BIGINT> form (pq_encode's
    native output, consumed by the green ADC/IVF-PQ entries) is not
    hashable by the driver's pandas canonicalizer."""
    embs = _embs(spark, sf_dir)
    vecs = embs.select("vec_id", ann._as_double(F.col("embedding")).alias("__v"))
    books = ann.pq_codebooks(vecs, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dims=64)
    codes = ann.pq_encode(vecs, books, m=_PQ_M, dims=64)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    ).select("vec_id", F.col("subspace").cast("long").alias("subspace"), "code")


@register(
    "ann_pq_adc_topk",
    f"""WITH e AS ({_SQL_E}),
    {_PQ_CTES},
    qes AS (SELECT vec_id AS query_id, s, sv FROM es WHERE vec_id % 50 = 0),
    lut AS (
      SELECT q.query_id, c.s, c.cid, {_sql_l2sq('q.sv', 'c.cent')} AS d
      FROM qes q JOIN pc{_PQ_ITERS} c ON c.s = q.s),
    pair AS (
      SELECT l.query_id, enc.vec_id AS neighbor_id, l.s, l.d
      FROM pq_enc enc JOIN lut l ON l.s = enc.s AND l.cid = enc.cid
      WHERE enc.vec_id <> l.query_id),
    adc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_prepend(0.0, list(d ORDER BY s)),
                         (acc, x) -> acc + x) AS adc_dist
      FROM pair GROUP BY 1, 2),
    shortl AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
             ) AS srank
      FROM adc),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_sql_l2sq('cv.v', 'qv.v')} AS l2_dist
      FROM shortl s
      JOIN e cv ON cv.vec_id = s.neighbor_id
      JOIN e qv ON qv.vec_id = s.query_id
      WHERE s.srank <= 50),
    ranked AS (
      SELECT query_id, neighbor_id, l2_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id
             ) AS rank
      FROM rer)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('l2_dist')} AS l2_dist
    FROM ranked WHERE rank <= 5""",
)
def ann_pq_adc_topk(spark, sf_dir):
    """PQ search with asymmetric distance computation + exact re-rank —
    the billion-scale memory path: the corpus-wide scan reads 16
    one-byte codes per vector against a broadcast per-query LUT; only
    the 50-candidate shortlist fetches full vectors for the exact L2
    re-rank.  Recall vs exact search is pinned by a unit-test gate; the
    oracle replays codebook training, encoding, LUT, ordered ADC fold,
    shortlist, and re-rank."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.pq_rerank_topk(
        embs, queries, topk=5, shortlist=50,
        m=_PQ_M, k=_PQ_K, train_iters=_PQ_ITERS, dims=64,
    )
    return out.select(
        "query_id", "neighbor_id", "rank",
        quant(F.col("l2_dist")).alias("l2_dist"),
    )


@register(
    "events_transitions",
    """WITH seq AS (
      SELECT user_id, event_type AS to_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
             ) AS from_type
      FROM events)
    SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
    FROM seq WHERE from_type IS NOT NULL
    GROUP BY 1, 2""",
)
def events_transitions(spark, sf_dir):
    """First-order event-type transition matrix over per-user
    time-ordered sequences — one per-user lag window + one pair-count
    hash aggregation; output is |types|² rows regardless of scale."""
    from time_series_db_spark.operators.temporal import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


_KM16_1_CTES, _KM16_1_FINAL = _sql_kmeans_cents(nlist=16, iters=1)


@register(
    "ann_ivfpq_topk",
    f"""WITH e AS ({_SQL_E}),
    {_KM16_1_CTES},
    {_PQ_CTES},
    ivf_assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.centroid')} DESC, c.cid
             ) AS pr
      FROM e CROSS JOIN {_KM16_1_FINAL} c),
    cells AS (SELECT vec_id, cid AS cell FROM ivf_assign WHERE pr = 1),
    qcells AS (
      SELECT vec_id AS query_id, cid AS cell FROM ivf_assign
      WHERE pr <= 6 AND vec_id % 50 = 0),
    qes AS (SELECT vec_id AS query_id, s, sv FROM es WHERE vec_id % 50 = 0),
    lut AS (
      SELECT q.query_id, c.s, c.cid, {_sql_l2sq('q.sv', 'c.cent')} AS d
      FROM qes q JOIN pc1 c ON c.s = q.s),
    cand AS (
      SELECT q.query_id, ce.vec_id AS neighbor_id
      FROM qcells q JOIN cells ce
        ON ce.cell = q.cell AND ce.vec_id <> q.query_id),
    pair AS (
      SELECT ca.query_id, ca.neighbor_id, l.s, l.d
      FROM cand ca
      JOIN pq_enc enc ON enc.vec_id = ca.neighbor_id
      JOIN lut l ON l.query_id = ca.query_id
        AND l.s = enc.s AND l.cid = enc.cid),
    adc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_prepend(0.0, list(d ORDER BY s)),
                         (acc, x) -> acc + x) AS adc_dist
      FROM pair GROUP BY 1, 2),
    shortl AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
             ) AS srank
      FROM adc),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_sql_l2sq('cv.v', 'qv.v')} AS l2_dist
      FROM shortl s
      JOIN e cv ON cv.vec_id = s.neighbor_id
      JOIN e qv ON qv.vec_id = s.query_id
      WHERE s.srank <= 50),
    ranked AS (
      SELECT query_id, neighbor_id, l2_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id
             ) AS rank
      FROM rer)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('l2_dist')} AS l2_dist
    FROM ranked WHERE rank <= 5""",
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (FAISS ``IVF16,PQ16``, raw-vector codes): trained coarse
    cells route each query's ADC scan to its 6 nearest of 16 cells'
    codes, a 50-candidate shortlist re-ranks exactly — the full
    billion-scale index shape with both codebooks broadcast.  The
    oracle composes the coarse-kmeans and PQ CTE chains and replays
    routing, LUT, ADC fold, shortlist, and re-rank."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.ivfpq_topk(
        embs, queries, topk=5, shortlist=50, nlist=16, nprobe=6,
        m=_PQ_M, k=_PQ_K, train_iters=1, dims=64,
    )
    return out.select(
        "query_id", "neighbor_id", "rank",
        quant(F.col("l2_dist")).alias("l2_dist"),
    )


@register(
    "sample_weighted",
    f"""WITH keyed AS (
      SELECT doc_id, n_chars::DOUBLE AS weight,
             ln((({sql_hash64('doc_id::VARCHAR', 'ws')} % 1000000007) + 1)
                / 1000000008.0) / n_chars::DOUBLE AS k
      FROM documents WHERE n_chars > 0),
    top AS (
      SELECT doc_id, weight,
             row_number() OVER (ORDER BY k DESC, doc_id) AS sample_rank
      FROM keyed)
    SELECT doc_id, weight, sample_rank::BIGINT AS sample_rank
    FROM top WHERE sample_rank <= 100""",
)
def sample_weighted(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement:
    100 documents with inclusion probability proportional to length
    (n_chars), drawn by the deterministic md5-uniform key ln(u)/w —
    reproducible, engine-portable, TakeOrdered partial top-n."""
    from time_series_db_spark.pipeline import pack

    return pack.sample_weighted(_docs(spark, sf_dir), "n_chars", 100)


# ---------------------------------------------------------------------------
# BPE vocabulary induction (pipeline/bpe.py) — unrolled-merge oracles
# ---------------------------------------------------------------------------

def _sql_bpe_ctes(n_merges: int, where: str = "") -> str:
    """CTE chain replaying bpe.bpe_train: word-frequency table, spaced
    initial symbol sequences, then each merge round unrolled (pair
    counts via list comprehension, argmax by (count DESC, pair ASC),
    literal-replace rewrite with the round's one-row scalars) — the
    same unrolling pattern as the PQ Lloyd oracle.  ``where`` scopes
    the training corpus (the fit/apply cross-corpus entry trains on a
    document subset)."""
    sql = f"""wfreq AS MATERIALIZED (
      SELECT w AS __w, count(*)::BIGINT AS __f
      FROM (SELECT unnest({_TOKS}) AS w FROM documents{where})
      WHERE w <> '' GROUP BY 1),
    bs0 AS MATERIALIZED (
      SELECT __w, __f,
             ' ' || trim(regexp_replace(__w, '(.)', '\\1 ', 'g')) || ' '
               AS seq
      FROM wfreq)"""
    for t in range(n_merges):
        sql += f""",
    bpx{t} AS (
      SELECT __f, unnest([toks[i] || ' ' || toks[i + 1]
                          for i in generate_series(1, len(toks) - 1)])
               AS pair
      FROM (SELECT __f, string_split(trim(seq), ' ') AS toks FROM bs{t})),
    bpc{t} AS (SELECT pair, CAST(sum(__f) AS BIGINT) AS cnt
               FROM bpx{t} GROUP BY 1),
    bm{t} AS MATERIALIZED (
      SELECT {t}::BIGINT AS merge_rank,
             string_split(pair, ' ')[1] AS left_sym,
             string_split(pair, ' ')[2] AS right_sym, cnt AS freq
      FROM bpc{t} ORDER BY cnt DESC, pair ASC LIMIT 1),
    bs{t + 1} AS MATERIALIZED (
      SELECT __w, __f,
             replace(seq,
                     ' ' || (SELECT left_sym FROM bm{t}) || ' '
                         || (SELECT right_sym FROM bm{t}) || ' ',
                     ' ' || (SELECT left_sym FROM bm{t})
                         || (SELECT right_sym FROM bm{t}) || ' ') AS seq
      FROM bs{t})"""
    return sql


_BPE_N = 10
_BPE_CTES = _sql_bpe_ctes(_BPE_N)
_BPE_UNION = "\n    UNION ALL ".join(
    f"SELECT * FROM bm{t}" for t in range(_BPE_N)
)


@register(
    "text_bpe_merges",
    f"""WITH {_BPE_CTES}
    {_BPE_UNION}""",
)
def text_bpe_merges(spark, sf_dir):
    """BPE merge-table induction (pipeline/bpe.py, Sennrich et al.
    2016): 10 merge rounds trained on the corpus word-frequency table —
    each round one distributed pair-count aggregation and a one-row
    argmax collect (the k-means coordinator shape).  The oracle unrolls
    all 10 rounds; ties break on (count DESC, pair ASC) in both
    engines."""
    from time_series_db_spark.pipeline import bpe

    return bpe.bpe_merges(load_table(spark, sf_dir, "documents"), _BPE_N)


@register(
    "text_bpe_token_counts",
    f"""WITH {_BPE_CTES},
    per_word AS (
      SELECT __w, len(string_split(trim(seq), ' '))::BIGINT AS n
      FROM bs{_BPE_N}),
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
      WHERE w <> '')
    SELECT dw.doc_id, CAST(sum(p.n) AS BIGINT) AS n_tokens
    FROM dw JOIN per_word p ON p.__w = dw.w
    GROUP BY 1""",
)
def text_bpe_token_counts(spark, sf_dir):
    """Token counting under the trained BPE vocabulary: the merged
    word table (vocabulary-bounded) broadcasts back onto one corpus
    scan; each document's count sums its words' cached symbol counts —
    the corpus text is never re-segmented per merge."""
    from time_series_db_spark.pipeline import bpe

    return bpe.bpe_token_counts(load_table(spark, sf_dir, "documents"), _BPE_N)


@register(
    "text_bpe_encode",
    f"""WITH {_BPE_CTES},
    enc_pw AS (
      SELECT __w, string_split(trim(seq), ' ') AS syms FROM bs{_BPE_N}),
    enc_dw AS (
      SELECT doc_id,
             unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS wpos
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    enc_j AS (
      SELECT d.doc_id, d.wpos, p.syms, len(p.syms) AS n
      FROM enc_dw d JOIN enc_pw p ON p.__w = d.w
      WHERE d.w <> ''),
    enc_b AS (
      SELECT doc_id, wpos, syms,
             coalesce(sum(n) OVER (PARTITION BY doc_id ORDER BY wpos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS base
      FROM enc_j)
    SELECT doc_id,
           (base + unnest(generate_series(1, len(syms))) - 1)::BIGINT
             AS pos,
           unnest(syms) AS token
    FROM enc_b""",
)
def text_bpe_encode(spark, sf_dir):
    """BPE tokenization — the apply step (pipeline/bpe.py:bpe_encode):
    each document becomes its ordered subword-token stream under the
    10-merge trained vocabulary, (doc_id, pos, token).  One corpus
    scan; the trained word table joins back probe-gated broadcast; the
    global position is a running sum over WORD rows (per-doc bounded
    window), and the subword explode is zero-shuffle — the corpus is
    segmented exactly once."""
    from time_series_db_spark.pipeline import bpe

    return bpe.bpe_encode(load_table(spark, sf_dir, "documents"), _BPE_N)


def _sql_bpe_apply_ctes(n_merges: int) -> str:
    """CTE chain replaying bpe.bpe_apply on corpus ``xdocs`` under the
    model trained by the preceding ``_sql_bpe_ctes`` chain: distinct
    apply-corpus words split into seen (joined against the trained
    word table ``bs{n}``) and OOV (``NOT EXISTS``), the OOV words then
    replaying every merge round's literal replace with the ``bm{t}``
    one-row scalars — the same replay the trainer used, so seen words
    would segment identically on either path."""
    n = n_merges
    sql = f"""xw AS MATERIALIZED (
      SELECT DISTINCT w AS __w
      FROM (SELECT unnest({_TOKS}) AS w FROM xdocs)
      WHERE w <> ''),
    xseen AS (
      SELECT x.__w, s.seq FROM xw x JOIN bs{n} s ON s.__w = x.__w),
    xo0 AS MATERIALIZED (
      SELECT __w,
             ' ' || trim(regexp_replace(__w, '(.)', '\\1 ', 'g')) || ' '
               AS seq
      FROM xw x
      WHERE NOT EXISTS (SELECT 1 FROM bs{n} s WHERE s.__w = x.__w))"""
    for t in range(n_merges):
        sql += f""",
    xo{t + 1} AS MATERIALIZED (
      SELECT __w,
             replace(seq,
                     ' ' || (SELECT left_sym FROM bm{t}) || ' '
                         || (SELECT right_sym FROM bm{t}) || ' ',
                     ' ' || (SELECT left_sym FROM bm{t})
                         || (SELECT right_sym FROM bm{t}) || ' ') AS seq
      FROM xo{t})"""
    sql += f""",
    xpw AS (
      SELECT __w, string_split(trim(seq), ' ') AS syms FROM xseen
      UNION ALL
      SELECT __w, string_split(trim(seq), ' ') AS syms FROM xo{n})"""
    return sql


@register(
    "text_bpe_encode_xcorpus",
    f"""WITH {_sql_bpe_ctes(_BPE_N, " WHERE doc_id % 2 = 0")},
    xdocs AS (
      SELECT doc_id, text || ' ' || source AS text
      FROM documents WHERE doc_id % 2 = 1),
    {_sql_bpe_apply_ctes(_BPE_N)},
    xdw AS (
      SELECT doc_id,
             unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS wpos
      FROM (SELECT doc_id, {_TOKS} AS toks FROM xdocs)),
    xj AS (
      SELECT d.doc_id, d.wpos, p.syms, len(p.syms) AS n
      FROM xdw d JOIN xpw p ON p.__w = d.w
      WHERE d.w <> ''),
    xb AS (
      SELECT doc_id, wpos, syms,
             coalesce(sum(n) OVER (PARTITION BY doc_id ORDER BY wpos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS base
      FROM xj)
    SELECT doc_id,
           (base + unnest(generate_series(1, len(syms))) - 1)::BIGINT
             AS pos,
           unnest(syms) AS token
    FROM xb""",
)
def text_bpe_encode_xcorpus(spark, sf_dir):
    """Cross-corpus BPE encode — the fit/apply deployment shape
    (pipeline/bpe.py:bpe_train + bpe_apply): the vocabulary trains
    ONCE on the even-doc_id half of the corpus, then encodes the odd
    half with the document's source tag appended to its text, WITHOUT
    retraining.  The source tags (src0..src19) never occur in the
    training text, so they are genuine OOV words taking the
    merge-replay path, while the shared base vocabulary takes the
    trained-word-table join — both halves of bpe_apply exercised and
    hash-checked.  One bpe_train job set total (tests assert no
    retrain happens inside the encode)."""
    from time_series_db_spark.pipeline import bpe

    docs = load_table(spark, sf_dir, "documents")
    model = bpe.bpe_train(docs.filter(F.col("doc_id") % 2 == 0), _BPE_N)
    apply_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.concat_ws(" ", "text", "source").alias("text")
    )
    return bpe.bpe_encode(apply_docs, model=model)


@register(
    "text_bpe_oov_xcorpus",
    f"""WITH twords AS MATERIALIZED (
      SELECT DISTINCT w AS __w
      FROM (SELECT unnest({_TOKS}) AS w FROM documents WHERE doc_id % 2 = 0)
      WHERE w <> ''),
    oxd AS (
      SELECT lang, text || ' ' || source AS text
      FROM documents WHERE doc_id % 2 = 1),
    oxw AS (
      SELECT lang, w
      FROM (SELECT lang, unnest({_TOKS}) AS w FROM oxd)
      WHERE w <> ''),
    oxj AS (
      SELECT x.lang, t.__w AS seen
      FROM oxw x LEFT JOIN twords t ON t.__w = x.w)
    SELECT lang AS "group", count(*)::BIGINT AS n_words,
           count(*) FILTER (WHERE seen IS NULL)::BIGINT AS n_oov,
           (count(*) FILTER (WHERE seen IS NULL))::DOUBLE
             / count(*)::DOUBLE AS oov_rate
    FROM oxj GROUP BY 1""",
)
def text_bpe_oov_xcorpus(spark, sf_dir):
    """Frozen-tokenizer OOV rate per language
    (pipeline/bpe.py:bpe_oov_rate): the coverage check before
    committing a vocabulary trained on corpus A to corpus B — here the
    even-doc-trained vocabulary measured on the odd half with source
    tags appended, so every language shows a nonzero OOV floor (the
    src* tags) over an otherwise covered base vocabulary.  One scan,
    probe-gated word-table left join, one partial agg; merges never
    replay (only the word SET matters for coverage)."""
    from time_series_db_spark.pipeline import bpe

    docs = load_table(spark, sf_dir, "documents")
    model = bpe.bpe_train(docs.filter(F.col("doc_id") % 2 == 0), _BPE_N)
    apply_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        "lang", F.concat_ws(" ", "text", "source").alias("text")
    )
    return bpe.bpe_oov_rate(apply_docs, model)


# ---------------------------------------------------------------------------
# round-7 additions: hard-negative mining + KL domain scoring
# ---------------------------------------------------------------------------

@register(
    "ann_hard_negatives",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                   FROM embeddings),
    q AS (SELECT vec_id, v, label FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.label AS query_label, c.label AS neighbor_label,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM q JOIN e c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine,
           query_label::BIGINT AS query_label,
           neighbor_label::BIGINT AS neighbor_label
    FROM ranked WHERE rank <= 5""",
)
def ann_hard_negatives(spark, sf_dir):
    """Hard-negative mining (pipeline/ann.py:hard_negatives): for every
    50th vector as anchor, the 5 most-cosine-similar vectors with a
    DIFFERENT label — the near-miss impostors contrastive training
    wants; the label inequality lives in the join condition so
    same-label pairs never materialize."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.hard_negatives(embs, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank",
        quant(F.col("cosine")).alias("cosine"),
        F.col("query_label").cast("long").alias("query_label"),
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
    )


@register(
    "ann_hard_negatives_ivf",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                   FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.v, e.label, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.v', 'c.cv')} DESC, c.cid
             ) AS pr
      FROM e CROSS JOIN cents c),
    cells AS (SELECT vec_id, v, label, cid AS cell FROM assign
              WHERE pr = 1),
    qcells AS (
      SELECT vec_id, v, label, cid AS cell FROM assign
      WHERE pr <= 2 AND vec_id % 50 = 0),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.label AS query_label, c.label AS neighbor_label,
             {_sql_cosine('q.v', 'c.v')} AS cosine
      FROM qcells q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.vec_id
        AND c.label <> q.label),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank::BIGINT AS rank,
           {sql_quant('cosine')} AS cosine,
           query_label::BIGINT AS query_label,
           neighbor_label::BIGINT AS neighbor_label
    FROM ranked WHERE rank <= 5""",
)
def ann_hard_negatives_ivf(spark, sf_dir):
    """Celled hard-negative mining (pipeline/ann.py:hard_negatives_ivf)
    — the scale path past MAX_HN_ANCHORS: IVF coarse quantizer
    (nlist=16, nprobe=2) restricts each anchor's candidate scan to its
    probed cells; the label inequality lives in the cell join so
    same-label pairs never materialize.  Anchor count scales the
    anchor side only — no anchor broadcast anywhere."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    out = ann.hard_negatives_ivf(embs, queries, k=5, nlist=16, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", "rank",
        quant(F.col("cosine")).alias("cosine"),
        F.col("query_label").cast("long").alias("query_label"),
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
    )


@register(
    "text_kl_divergence",
    f"""WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
      WHERE t <> ''),
    kdc AS (SELECT doc_id, t, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
    kdl AS (SELECT doc_id, sum(c) AS l FROM kdc GROUP BY 1),
    kcc AS (SELECT t, sum(c) AS cc FROM kdc GROUP BY 1),
    ktt AS (SELECT sum(cc) AS tot FROM kcc)
    SELECT d.doc_id,
           {sql_quant('sum((d.c / l.l) * ln((d.c / l.l) / (c.cc / t.tot)))')}
             AS kl
    FROM kdc d
    JOIN kdl l USING (doc_id)
    JOIN kcc c USING (t)
    CROSS JOIN ktt t
    GROUP BY 1""",
)
def text_kl_divergence(spark, sf_dir):
    """Per-document KL divergence from the corpus unigram distribution
    (pipeline/text.py:kl_divergence) — the off-distribution signal
    data-selection thresholds on; integer-exact counts in, one
    quantized log-sum out."""
    return text.kl_divergence(_docs(spark, sf_dir)).select(
        "doc_id", quant(F.col("kl")).alias("kl")
    )


@register(
    "embedding_source_drift",
    f"""WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
    ex AS (
      SELECT e.vec_id, d.i::BIGINT AS dim, e.v[d.i + 1] AS x
      FROM dv e CROSS JOIN range(64) d(i)),
    js AS (
      SELECT s.source, ex.dim, ex.x
      FROM ex JOIN documents s ON ex.vec_id = s.doc_id),
    per AS (
      SELECT source, dim, sum(x) AS s, count(*)::BIGINT AS n
      FROM js GROUP BY 1, 2),
    corpus AS (SELECT dim, sum(s) AS cs, sum(n) AS cn FROM per GROUP BY 1),
    m AS (
      SELECT p.source, p.n, p.s / p.n AS ms, c.cs / c.cn AS mc
      FROM per p JOIN corpus c USING (dim)),
    agg AS (
      SELECT source, max(n)::BIGINT AS n_docs,
             sum(ms * mc) AS dot, sum(ms * ms) AS ss, sum(mc * mc) AS sc,
             sum((ms - mc) * (ms - mc)) AS d2
      FROM m GROUP BY 1)
    SELECT source, n_docs,
           {sql_quant('dot / (sqrt(ss) * sqrt(sc))')} AS cos_to_corpus,
           {sql_quant('sqrt(d2)')} AS l2_to_corpus
    FROM agg""",
)
def embedding_source_drift(spark, sf_dir):
    """Per-source embedding-centroid drift vs the corpus centroid
    (pipeline/ann.py:source_drift): the distribution-shift monitor run
    before mixing a new source in.  One exploded equi-join + one
    partial-aggregated groupBy(source, dim); the corpus centroid
    re-aggregates the per-source sums (no second scan); the final
    reduction joins the dim-sized centroid broadcast."""
    out = ann.source_drift(
        _embs(spark, sf_dir), _docs(spark, sf_dir), dim=64
    )
    return out.select(
        F.col("group").alias("source"),
        "n_docs",
        quant(F.col("cos_to_corpus")).alias("cos_to_corpus"),
        quant(F.col("l2_to_corpus")).alias("l2_to_corpus"),
    )


@register(
    "dedup_soft_weights",
    f"""WITH RECURSIVE pairs AS (SELECT * FROM ({_PAIRS_SQL})),
    nodes AS (SELECT DISTINCT id FROM
      (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id, id AS root FROM nodes
      UNION
      SELECT e.b AS id, r.root FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id, min(root) AS comp FROM reach GROUP BY id),
    sizes AS (SELECT comp, count(*)::BIGINT AS csize FROM comp GROUP BY 1),
    docw AS (
      SELECT c.id AS doc_id, s.csize FROM comp c JOIN sizes s USING (comp))
    SELECT d.doc_id,
           coalesce(w.csize, 1)::BIGINT AS cluster_size,
           {sql_quant('1.0::DOUBLE / coalesce(w.csize, 1)::DOUBLE')} AS weight
    FROM documents d LEFT JOIN docw w ON d.doc_id = w.doc_id""",
)
def dedup_soft_weights(spark, sf_dir):
    """Soft dedup (pipeline/dedup.py:soft_dedup_weights): every doc
    weighted 1/|near-dup cluster| instead of dropped — cluster mass
    stays constant under duplication, the downweighting alternative to
    hard survivor selection.  MinHash pairs → connected components
    (pair graph only) → one metadata-sized left join back onto the
    corpus; the oracle resolves the same components with a recursive
    CTE."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    return dedup.soft_dedup_weights(docs, pairs).select(
        "doc_id", "cluster_size", quant(F.col("weight")).alias("weight")
    )


@register(
    "corpus_diff",
    f"""WITH oldv AS (
      SELECT doc_id, {sql_hash64('text', 'snap')} AS ho
      FROM documents WHERE doc_id % 7 <> 0),
    newv AS (
      SELECT doc_id,
             {sql_hash64(
                 "CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END",
                 'snap')} AS hn
      FROM documents WHERE doc_id % 11 <> 0)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.ho IS NULL THEN 'added'
                WHEN n.hn IS NULL THEN 'removed'
                WHEN o.ho <> n.hn THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM oldv o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id""",
)
def corpus_diff(spark, sf_dir):
    """Snapshot diff (pipeline/dedup.py:corpus_diff): the
    incremental-crawl audit — per doc id, added / removed / changed /
    unchanged between two corpus versions (simulated here: the old
    snapshot drops doc_id%7==0, the new drops doc_id%11==0 and edits
    doc_id%5==0), deciding what downstream stages actually reprocess.
    Each snapshot collapses to (id, content-hash) on its own scan; ONE
    full-outer equi-join on id, no broadcast assumption on either
    corpus-sized side."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.corpus_diff(old, new)


@register(
    "split_leakage_safe",
    f"""WITH RECURSIVE pairs AS (SELECT * FROM ({_PAIRS_SQL})),
    nodes AS (SELECT DISTINCT id FROM
      (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id, id AS root FROM nodes
      UNION
      SELECT e.b AS id, r.root FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id, min(root) AS comp FROM reach GROUP BY id),
    cl AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    bkt AS (
      SELECT doc_id, cluster_id,
             {sql_hash64("CAST(cluster_id AS VARCHAR)", 'split')} % 10000
               AS b
      FROM cl)
    SELECT doc_id, cluster_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM bkt""",
)
def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split
    (pipeline/dedup.py:leakage_safe_split): near-dup CLUSTERS are the
    unit of assignment, so a near-duplicate of a training document can
    never sit in the test set — the eval contamination a naive per-doc
    hash split manufactures by construction.  MinHash pairs →
    connected components → integer hash buckets (80/10/10, thresholds
    compared as integers so the boundary cannot drift between
    engines); the oracle resolves the same components with a recursive
    CTE and replays the same md5 bucketing."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    return dedup.leakage_safe_split(docs, pairs)


#: the registered lexical and hybrid-dense query texts double as the
#: ranked-list sources for the fusion oracle (same nested-WITH reuse as
#: _PAIRS_SQL above)
_LEX_SQL = ORACLES["search_bm25"]
_DEN_SQL = ORACLES["search_hybrid_rerank"]


@register(
    "search_rrf",
    f"""WITH lex AS (SELECT doc_id, rank FROM ({_LEX_SQL})),
    den AS (SELECT doc_id, rank FROM ({_DEN_SQL})),
    uni AS (
      SELECT doc_id, 1.0::DOUBLE / (60 + rank)::DOUBLE AS rr FROM lex
      UNION ALL
      SELECT doc_id, 1.0::DOUBLE / (60 + rank)::DOUBLE FROM den),
    fused AS (
      SELECT doc_id, sum(rr) AS s, count(*)::BIGINT AS n_lists
      FROM uni GROUP BY 1),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY s DESC, doc_id)::BIGINT AS rank
      FROM fused)
    SELECT doc_id, {sql_quant('s')} AS rrf_score, n_lists, rank
    FROM ranked WHERE rank <= 5""",
)
def search_rrf(spark, sf_dir):
    """Reciprocal-rank fusion (pipeline/retrieval.py:rrf_fuse, Cormack
    2009) of the lexical BM25 top-10 and the dense PRF-reranked top-5 —
    the score-free hybrid-search merge that needs no calibration
    between ranker score scales.  Fusion touches ONLY the already-cut
    top-k tables (metadata-sized by construction); with two lists the
    per-doc sum is a commutative two-term add, so fused scores are
    bit-identical across engines and the id tiebreak pins rank order."""
    from time_series_db_spark.pipeline import retrieval

    docs = _docs(spark, sf_dir)
    lex = retrieval.bm25_topk(
        docs, " ".join(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    )
    den = retrieval.bm25_prf_rerank(
        docs, _embs(spark, sf_dir), " ".join(_BM25_TERMS),
        k=5, n_short=20, n_seed=3, k1=_BM25_K1, b=_BM25_B,
    )
    out = retrieval.rrf_fuse([lex, den], k=5)
    return out.select(
        "doc_id", quant(F.col("rrf_score")).alias("rrf_score"),
        "n_lists", "rank",
    )


def _sql_mmr(k: int = 5, n_short: int = 10, lam: float = 0.5) -> str:
    """The greedy MMR selection UNROLLED as one scalar CTE per round
    (each round's argmax depends on everything selected so far — the
    holt_winters unroll lesson applied to a selection loop).  All
    iterated CTEs are MATERIALIZED: the selection rounds reference each
    other combinatorially and DuckDB inlines CTEs by default."""
    inv = 1.0 - lam
    sql = f""",
    m_cand AS MATERIALIZED (
      SELECT doc_id, score FROM ranked WHERE rank <= {n_short}),
    m_mx AS (SELECT max(score) AS mx FROM m_cand),
    m_rel AS MATERIALIZED (
      SELECT doc_id, score / mx AS rel FROM m_cand CROSS JOIN m_mx),
    m_vec AS MATERIALIZED (
      SELECT e.vec_id AS doc_id, list_transform(e.embedding, x -> x::DOUBLE) AS v
      FROM embeddings e JOIN m_cand c ON e.vec_id = c.doc_id),
    m_sim AS MATERIALIZED (
      SELECT a.doc_id AS ia, b.doc_id AS ib, {_sql_cosine('a.v', 'b.v')} AS s
      FROM m_vec a JOIN m_vec b ON a.doc_id <> b.doc_id),
    m_s1 AS MATERIALIZED (
      SELECT doc_id, rel, ({lam}::DOUBLE * rel - 0.0::DOUBLE) AS sc
      FROM m_rel ORDER BY sc DESC, doc_id LIMIT 1)"""
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT doc_id FROM m_s{j}" for j in range(1, i)
        )
        sql += f""",
    m_p{i} AS MATERIALIZED ({prev}),
    m_s{i} AS MATERIALIZED (
      SELECT doc_id, rel, sc FROM (
        SELECT r.doc_id, r.rel,
               {lam}::DOUBLE * r.rel - {inv}::DOUBLE * coalesce(
                 max(CASE WHEN s.ib IN (SELECT doc_id FROM m_p{i})
                          THEN s.s END), 0.0::DOUBLE) AS sc
        FROM m_rel r LEFT JOIN m_sim s ON s.ia = r.doc_id
        WHERE r.doc_id NOT IN (SELECT doc_id FROM m_p{i})
        GROUP BY r.doc_id, r.rel)
      ORDER BY sc DESC, doc_id LIMIT 1)"""
    picks = " UNION ALL ".join(
        f"SELECT doc_id, rel, sc, {i}::BIGINT AS rank FROM m_s{i}"
        for i in range(1, k + 1)
    )
    sql += f"""
    SELECT doc_id, {sql_quant('rel')} AS rel,
           {sql_quant('sc')} AS mmr_score, rank
    FROM ({picks})"""
    return sql


@register(
    "search_mmr",
    f"WITH {_sql_bm25_ctes()}{_sql_mmr()}",
)
def search_mmr(spark, sf_dir):
    """Maximal Marginal Relevance diversified rerank
    (pipeline/retrieval.py:mmr_rerank, Carbonell 1998) over the BM25
    top-10 (relevance max-normalized): greedy
    argmax λ·rel − (1−λ)·max-sim-to-selected, λ=0.5 — near-duplicate
    hits stop crowding the RAG context window.  The shortlist is
    metadata-sized by construction; pairwise sims persist once; each
    round is one distributed argmax + 1-row collect (the BPE
    coordinator shape).  Oracle unrolls the greedy as scalar CTE
    steps."""
    from time_series_db_spark.pipeline import retrieval

    lex = retrieval.bm25_topk(
        _docs(spark, sf_dir), " ".join(_BM25_TERMS), k=10,
        k1=_BM25_K1, b=_BM25_B,
    )
    mx = lex.agg(F.max("score").alias("__mx"))
    short = lex.crossJoin(F.broadcast(mx)).select(
        "doc_id", (F.col("score") / F.col("__mx")).alias("rel")
    )
    out = retrieval.mmr_rerank(short, _embs(spark, sf_dir), k=5, lam=0.5)
    return out.select(
        "doc_id", quant(F.col("rel")).alias("rel"),
        quant(F.col("mmr_score")).alias("mmr_score"), "rank",
    )


@register(
    "text_bpe_fertility",
    f"""WITH {_BPE_CTES},
    fer_pw AS (
      SELECT __w, len(string_split(trim(seq), ' '))::BIGINT AS n
      FROM bs{_BPE_N}),
    fer_dw AS (
      SELECT doc_id, unnest(toks) AS w
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    fer_doc AS (
      SELECT d.doc_id, count(*)::BIGINT AS nw, sum(p.n)::BIGINT AS ns
      FROM fer_dw d JOIN fer_pw p ON p.__w = d.w
      WHERE d.w <> '' GROUP BY 1)
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(nw)::BIGINT AS n_words, sum(ns)::BIGINT AS n_subwords,
           {sql_quant('sum(ns)::DOUBLE / sum(nw)::DOUBLE')} AS fertility
    FROM fer_doc f JOIN documents USING (doc_id)
    GROUP BY 1""",
)
def text_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility per language (pipeline/bpe.py:bpe_fertility):
    subword tokens per whitespace word under the 10-merge trained
    vocabulary — the standard multilingual tokenizer-quality metric; a
    2× fertility language pays 2× the sequence length for the same
    content.  Exact ratio of integer sums (short docs cannot dominate);
    one corpus scan, probe-gated word-table join, two partial aggs."""
    from time_series_db_spark.pipeline import bpe

    out = bpe.bpe_fertility(load_table(spark, sf_dir, "documents"), _BPE_N)
    return out.select(
        "lang", "n_docs", "n_words", "n_subwords",
        quant(F.col("fertility")).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# linear quality classifier (fit/apply, r10)
# ---------------------------------------------------------------------------

#: classifier config: 256 hash buckets + intercept, 10 GD rounds, lr 0.5,
#: features scaled x8 (see classifier.hashed_features on conditioning)
_CLS_K = 256
_CLS_T = 10
_CLS_LR = "0.5"

#: the teacher ruleset's stopword list (text.LANG_MARKERS['en']) and the
#: integer-exact keep threshold: ratio >= 0.16 as 25*hits >= 4*tokens
_CLS_STOP = "'the','and','of','to','a','in','is','row','table','value'"


def _cls_feat_ctes(tag: str, src: str) -> str:
    """CTE block computing ``{tag}feat(doc_id, bucket, xi)`` — the
    hashed L1-normalized features in 1e-6 integer units plus the
    intercept row — over the docs CTE ``{src}``."""
    return f"""
    {tag}tok AS (
      SELECT doc_id, unnest(list_filter({_TOKS}, t -> t <> '')) AS tok
      FROM {src}),
    {tag}cnt AS (
      SELECT doc_id, {sql_hash64('tok', 'qcls')} % {_CLS_K} AS bucket,
             count(*) AS cnt
      FROM {tag}tok GROUP BY 1, 2),
    {tag}n AS (SELECT doc_id, count(*) AS n_tok FROM {tag}tok GROUP BY 1),
    {tag}feat AS MATERIALIZED (
      SELECT c.doc_id, c.bucket,
             floor(c.cnt / n.n_tok * 8.0 * 1e6 + 0.5)::BIGINT AS xi
      FROM {tag}cnt c JOIN {tag}n n USING (doc_id)
      UNION ALL
      SELECT doc_id, (-1)::BIGINT, 1000000::BIGINT FROM {src})"""


def _cls_gd_ctes() -> str:
    """Unrolled full-batch GD: ``w{_CLS_T}(bucket, w)`` from
    ``trfeat``/``trlab``/``ntr``.  Every sum runs over scaled
    integers (HUGEINT — exact, order-free); the per-scalar float math
    mirrors classifier_fit's driver fold expression-for-expression."""
    parts = [
        """
    wb AS (SELECT DISTINCT bucket FROM trfeat),
    w0 AS MATERIALIZED (SELECT bucket, 0::BIGINT AS w FROM wb)"""
    ]
    for t in range(1, _CLS_T + 1):
        parts.append(f"""
    p{t} AS (
      SELECT f.doc_id,
             CAST(SUM(CAST(w.w AS HUGEINT) * f.xi) AS DOUBLE)/1e15 AS pred
      FROM trfeat f JOIN w{t - 1} w USING (bucket) GROUP BY 1),
    r{t} AS (
      SELECT p.doc_id, floor((p.pred - l.y) * 1e6 + 0.5)::BIGINT AS r
      FROM p{t} p JOIN trlab l USING (doc_id)),
    g{t} AS (
      SELECT f.bucket, SUM(CAST(r.r AS HUGEINT) * f.xi) AS gs
      FROM trfeat f JOIN r{t} r USING (doc_id) GROUP BY 1),
    w{t} AS MATERIALIZED (
      SELECT w.bucket,
             CAST(floor((CAST(w.w AS DOUBLE)/1e9
                         - {_CLS_LR} * (CAST(COALESCE(g.gs, 0) AS DOUBLE)/1e12)
                           / (SELECT n FROM ntr)) * 1e9 + 0.5)
                  AS BIGINT) AS w
      FROM w{t - 1} w LEFT JOIN g{t} g USING (bucket))""")
    return ",".join(parts)


#: the full train-on-even/score-odd replay (through the ``ssum`` raw
#: scores CTE) — shared by the scorer entry and the calibration entry
_CLS_CHAIN = f"""tr AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    ntr AS (SELECT count(*) AS n FROM tr),{_cls_feat_ctes('tr', 'tr')},
    trlab AS (
      -- LEFT JOIN from the doc table, not the token rows: an
      -- empty/whitespace-only document has no trtok rows but Spark's
      -- label expr gives 25*0 >= 4*0 -> y = 1 and the intercept
      -- feature keeps it in every gradient, so the oracle must label
      -- it identically (latent divergence, caught in review)
      SELECT d.doc_id,
             CASE WHEN 25 * COALESCE(h.hits, 0) >= 4 * COALESCE(h.n, 0)
                  THEN 1 ELSE 0 END AS y
      FROM tr d LEFT JOIN (
        SELECT doc_id,
               sum(CASE WHEN tok IN ({_CLS_STOP})
                        THEN 1 ELSE 0 END) AS hits,
               count(*) AS n
        FROM trtok GROUP BY 1) h USING (doc_id)),
    {_cls_gd_ctes()},
    sc AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 2 = 1),{_cls_feat_ctes('sc', 'sc')},
    ssum AS (
      SELECT f.doc_id, SUM(CAST(w.w AS HUGEINT) * f.xi) AS s
      FROM scfeat f JOIN w{_CLS_T} w USING (bucket) GROUP BY 1)"""


def _cls_teacher_label():
    """The rule-based quality teacher: stopword ratio >= 0.16 as an
    integer-exact compare (25*hits >= 4*tokens)."""
    nz = F.filter(textprep.tokens(F.col("text")), lambda t: t != "")
    stops = [w.strip("'") for w in _CLS_STOP.split(",")]
    return (
        F.lit(25) * F.size(F.filter(nz, lambda t: t.isin(*stops)))
        >= F.lit(4) * F.size(nz)
    ).cast("int")


#: session memo of the trained quality-probe model rows, keyed by the
#: corpus dir.  The model is a DETERMINISTIC pure function of the
#: immutable testdata (integer-exact GD), and both classifier entries
#: train the identical model — without the memo the calibration entry
#: re-pays the 10 distributed GD rounds its sibling already ran (the
#: r10 verdict's slowest-bench finding, ~2× useful work).  At 100 TB
#: this is the persisted-model artifact (classifier_fit docstring);
#: locally the ≤257 driver-side rows are the whole model.
_CLS_MODEL_ROWS: dict[str, list[tuple[int, int]]] = {}


def _cls_model(spark, sf_dir):
    import os

    key = os.path.normpath(sf_dir)
    if key not in _CLS_MODEL_ROWS:
        from time_series_db_spark.pipeline import classifier

        docs = _docs(spark, sf_dir)
        train = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
            "y", _cls_teacher_label()
        )
        model = classifier.classifier_fit(
            train, label_col="y", n_buckets=_CLS_K, iters=_CLS_T, lr=0.5
        )
        _CLS_MODEL_ROWS[key] = [
            (r["bucket"], r["w_nano"]) for r in model.collect()
        ]
    return literal_frame(
        spark, _CLS_MODEL_ROWS[key], "bucket long, w_nano long"
    )


@register(
    "text_quality_classifier",
    f"""WITH {_CLS_CHAIN}
    SELECT doc_id,
           floor(CAST(s AS DOUBLE)/1e15 * 1e4 + 0.5)/1e4 AS score,
           CASE WHEN floor(CAST(s AS DOUBLE)/1e15 * 1e4 + 0.5)/1e4 >= 0.5
                THEN 1 ELSE 0 END AS pred
    FROM ssum""",
)
def text_quality_classifier(spark, sf_dir):
    """fastText-style linear quality scorer, fit/apply split
    (pipeline/classifier.py): train a least-squares probe over hashed
    L1-normalized token counts on the EVEN half of the corpus (label:
    the rule-based quality teacher — stopword ratio >= 0.16 as an
    integer-exact compare; distilling an expensive ruleset into a fast
    linear scorer is exactly how production pipelines deploy one),
    score the held-out ODD half under the frozen ≤257-row model.  GD
    sums run over scaled integers (order-free, engine-exact); the
    oracle replays all {_CLS_T} training rounds as unrolled CTEs.  The
    apply path is the 100 TB shape: broadcast the fixed-size weight
    table, one scan, one partial aggregate.  The trained model is
    memoized per corpus dir (deterministic — see :func:`_cls_model`),
    so the calibration sibling entry never re-pays the GD rounds."""
    from time_series_db_spark.pipeline import classifier

    docs = _docs(spark, sf_dir)
    model = _cls_model(spark, sf_dir)
    return classifier.classifier_score(
        docs.filter(F.col("doc_id") % 2 == 1), model, n_buckets=_CLS_K
    )


#: calibration sweep thresholds (1e-4 integer grid)
_CAL_T4 = [2000, 3500, 5000, 6500, 8000]


@register(
    "text_classifier_calibration",
    f"""WITH {_CLS_CHAIN},
    sclab AS (
      -- doc-anchored like trlab: empty docs are y = 1 on both engines
      SELECT d.doc_id,
             CASE WHEN 25 * COALESCE(h.hits, 0) >= 4 * COALESCE(h.n, 0)
                  THEN 1 ELSE 0 END AS y
      FROM sc d LEFT JOIN (
        SELECT doc_id,
               sum(CASE WHEN tok IN ({_CLS_STOP})
                        THEN 1 ELSE 0 END) AS hits,
               count(*) AS n
        FROM sctok GROUP BY 1) h USING (doc_id)),
    cgrid AS (
      SELECT t.t4,
             CASE WHEN floor(CAST(s.s AS DOUBLE)/1e15 * 1e4 + 0.5)
                       >= t.t4 THEN 1 ELSE 0 END AS keep,
             l.y
      FROM ssum s
      JOIN sclab l USING (doc_id)
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _CAL_T4))}]) AS t4) t),
    cagg AS (
      SELECT t4, count(*)::BIGINT AS n_docs, sum(keep)::BIGINT AS n_keep,
             sum(keep * y)::BIGINT AS tp,
             sum(keep * (1 - y))::BIGINT AS fp,
             sum((1 - keep) * y)::BIGINT AS fn,
             sum((1 - keep) * (1 - y))::BIGINT AS tn
      FROM cgrid GROUP BY 1)
    SELECT t4 / 10000.0 AS threshold, n_docs, n_keep, tp, fp, fn, tn,
           {sql_quant('CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END')} AS precision,
           {sql_quant('CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END')} AS recall,
           {sql_quant('CASE WHEN 2*tp + fp + fn > 0 THEN 2*tp / (2*tp + fp + fn) END')} AS f1,
           {sql_quant('n_keep / n_docs')} AS keep_rate
    FROM cagg""",
)
def text_classifier_calibration(spark, sf_dir):
    """Threshold calibration of the trained quality scorer
    (pipeline/classifier.py:classifier_calibration): confusion counts
    + precision/recall/F1/keep-rate of ``score ≥ t`` against the
    teacher labels on the held-out half, at 5 candidate cuts — the
    sweep run before committing a keep/drop threshold ("which cut
    keeps 60% at ≥0.9 precision").  The comparison runs on the 1e-4
    INTEGER grid so no threshold can split engines on a float ulp; the
    oracle replays the full GD chain then the same grid aggregate.
    The trained model is memoized per corpus dir (deterministic — see
    :func:`_cls_model`), so this entry costs one apply + the sweep, not
    a second 10-round GD fit."""
    from time_series_db_spark.pipeline import classifier

    docs = _docs(spark, sf_dir)
    model = _cls_model(spark, sf_dir)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    scored = classifier.classifier_score(held, model, n_buckets=_CLS_K)
    out = classifier.classifier_calibration(
        scored,
        held.withColumn("y", _cls_teacher_label()),
        [t / 10000 for t in _CAL_T4],
    )
    return out.select(
        "threshold", "n_docs", "n_keep", "tp", "fp", "fn", "tn",
        quant(F.col("precision")).alias("precision"),
        quant(F.col("recall")).alias("recall"),
        quant(F.col("f1")).alias("f1"),
        quant(F.col("keep_rate")).alias("keep_rate"),
    )
