"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine.

Scale design (the point of each algorithm):

- **exact**: one hash-shuffle on the normalized-text key; map-side partial
  aggregation makes this the cheapest possible full-corpus dedup.
- **MinHash+LSH**: signatures are computed scan-side (no shuffle); the
  only shuffle is the band-bucket self-join, whose fan-out is bounded by
  bucket size — the classic way to avoid the O(n²) pair explosion at
  100 TB. Candidates are then verified with exact Jaccard so the output
  is threshold-exact, not probabilistic.
- **SimHash**: one explode on tokens + one groupBy per doc (both
  map-heavy, combiner-friendly); the pair join is on the 48-bit
  fingerprint's band keys, again avoiding all-pairs.
- **n-gram Jaccard**: the exact baseline — shingle-explode + equi-join on
  the shingle. Quadratic in the worst case; kept as the verification
  oracle and for small/medium corpora.
- **embedding cosine**: exact all-pairs over a block-joined candidate set;
  at scale the LSH bucketer from :mod:`ann` bounds candidates first.

All expressions are Catalyst built-ins (md5/conv/array ops) — no Python
in the hot path. Hash choice: md5-60bit (portable to the DuckDB oracle);
swap ``textprep.hash64(fn="xxhash64")`` for production throughput
(DuckDB has no xxhash64, so the differential entries stay on md5 — the
cold-cost cut is hashing per TOKEN instead of per shingle string, which
shrinks md5 input bytes ~3× and drops shingle-string building entirely;
see :func:`minhash_signatures`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_db_spark.pipeline import textprep

#: MinHash defaults: 16 permutations, 4 bands × 4 rows → catches
#: J≥0.8 pairs with P ≈ 1-(1-0.8⁴)⁴ ≈ 0.93 per the standard S-curve.
NUM_PERMS = 16
NUM_BANDS = 4

#: Universal-hash permutation family: perm_p(h) = (A_p·h + B_p) mod FP_MOD
#: over a single base hash per shingle. One md5 per TOKEN (not per perm,
#: not per shingle) — the md5 (and its hex→int conv) dominates signature
#: cost. Products stay < 2^61, exact in int64 on both engines
#: (oracle-portable).
BASE_MOD = 1 << 30
PERM_A = [(2654435761 * (p + 1)) % textprep.FP_MOD for p in range(NUM_PERMS)]
PERM_B = [(2246822519 * (p + 1)) % textprep.FP_MOD for p in range(NUM_PERMS)]


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per group.

    Returns (id_col, dup_count) — one row per surviving document.
    """
    return (
        df.select(F.col(id_col), textprep.normalize(F.col(text_col)).alias("__norm"))
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .select(id_col, "dup_count")
    )


def _poly_fold(arr: Column) -> Column:
    """Rolling polynomial hash of a BIGINT array mod FP_MOD — the same
    fold as textprep fingerprints (acc·B + h, all products < 2^38)."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(textprep.FP_BASE) + h) % F.lit(textprep.FP_MOD),
    )


def shingle_hashes(token_hashes: Column, k: int = 3) -> Column:
    """Distinct k-gram shingle hashes (ARRAY<BIGINT>) from per-token
    hashes: each shingle hash is the polynomial fold of its k consecutive
    token hashes — no shingle string is ever materialized.  Documents
    shorter than k tokens yield one whole-document shingle.

    The token-hash array is bound once per row
    (:func:`textprep.bind_once`): callers pass the raw
    ``transform(tokens, md5…)`` expression, and without the binding
    every shingle's ``slice`` would re-run the per-token hashing —
    O(tokens·k) hash evaluations instead of O(tokens) (the interpreted
    higher-order-function re-evaluation, r13 optimization)."""

    def body(th: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(0), F.size(th) - k),
            lambda i: _poly_fold(F.slice(th, i + 1, k)),
        )
        return F.array_distinct(
            F.when(F.size(th) >= k, ngrams).otherwise(F.array(_poly_fold(th)))
        )

    return textprep.bind_once(token_hashes, body)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, shingles ARRAY<BIGINT>, sig ARRAY<BIGINT>) per document.

    One pass over the scan: each TOKEN is hashed **once** (md5 portable /
    ``hash_fn="xxhash64"`` native) and reduced mod 2^30; shingle hashes
    are polynomial folds of k consecutive token hashes (< FP_MOD); the
    num_perms min-hashes are affine permutations ``(A_p·s + B_p) mod
    FP_MOD`` folded with ``array_min`` — all inside one codegen stage, no
    shuffle.  Hashing tokens instead of joined shingle strings cuts the
    expensive hash to ~1/k of the input bytes and keeps the signature
    table all-integer (arrays of longs, not strings) — the downstream
    Jaccard verify intersects long arrays, and the persisted/materialized
    signature table at 100 TB is a fraction of the string form.
    """
    th = F.transform(
        textprep.tokens(F.col(text_col)),
        lambda t: F.pmod(textprep.hash64(t, "mh", hash_fn), F.lit(BASE_MOD)),
    )
    base = df.select(F.col(id_col), shingle_hashes(th, shingle_k).alias("shingles"))

    def _minhash(p: int) -> Column:
        a, b, m = PERM_A[p], PERM_B[p], textprep.FP_MOD
        return F.array_min(
            F.transform(
                F.col("shingles"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(m)
            )
        )

    sig = F.array(*[_minhash(p) for p in range(num_perms)])
    return base.withColumn("sig", sig)


def _band_buckets(num_perms: int, num_bands: int) -> list[Column]:
    """One bucket hash per band: md5 over that band's signature slice."""
    rows = num_perms // num_bands
    out = []
    for b in range(num_bands):
        parts = [
            F.element_at(F.col("sig"), b * rows + r + 1).cast("string")
            for r in range(rows)
        ]
        out.append(F.md5(F.concat_ws(",", *parts)))
    return out


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    The self-join key is (band_idx, bucket_hash): only same-bucket rows
    meet, so shuffle volume is O(n · bands), not O(n²).
    """
    buckets = (
        sigs.select(
            F.col(id_col),
            F.posexplode(F.array(*_band_buckets(num_perms, num_bands))).alias(
                "band", "bucket"
            ),
        )
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over hashed-shingle sets for each candidate pair.

    Shingle-hash arrays (BIGINT) are re-joined by id (broadcast-sized
    after LSH pruning); ``array_intersect`` on longs computes the exact
    overlap — no false LSH positives survive, and hash collisions within
    a set (p ≈ |set|²/2³⁰ per doc) merge identically on both engines.
    """
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    return (
        pairs.join(
            sh.select(
                F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b")
            ),
            "id_b",
        )
        .withColumn(
            "__common", F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__common")
                / (F.size("__sh_a") + F.size("__sh_b") - F.col("__common"))
            ).alias("jaccard"),
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) with J ≥ threshold,
    found via LSH banding and verified exactly.

    Signatures feed three consumers (band join left+right, verify joins);
    persisting them computes the shingle+hash scan once — at cluster scale
    this is the standard "materialize signatures, then self-join" shape
    (a checkpoint/intermediate table on a real pipeline); released by a
    later query boundary (cache.release_others).
    """
    from time_series_db_spark.cache import persist_tracked

    sigs = minhash_signatures(df, id_col, text_col, num_perms, shingle_k, hash_fn)
    sigs = persist_tracked(sigs)
    cands = lsh_candidate_pairs(sigs, id_col, num_perms, num_bands)
    return jaccard_verify(cands, sigs, id_col).filter(
        F.col("jaccard") >= F.lit(float(threshold))
    )


def minhash_fit(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Fit step of the cross-corpus dedup fit/apply split: the
    reference corpus' MinHash model table ``(id, shingles, sig)`` —
    exactly what :func:`cross_corpus_dedup` needs from the reference
    side, materialized ONCE so every later snapshot dedups against it
    without re-scanning the reference corpus (the ``bpe_train`` /
    ``bpe_apply`` and ``pca_fit`` / ``pca_transform`` shape).

    At 100 TB the model table is the artifact you persist: write it to
    parquet partitioned however the store is bucketed (it is a
    fraction of the corpus — integer arrays, no text), read it back
    per crawl snapshot, and pass it as ``cross_corpus_dedup(model=…)``.
    Keep ``num_perms`` / ``shingle_k`` / ``hash_fn`` identical between
    fit and apply — signatures from different configurations never
    collide correctly, and nothing can detect the mismatch at apply
    time.
    """
    return minhash_signatures(
        reference, id_col, text_col, num_perms, shingle_k, hash_fn
    )


def minhash_update(
    model: DataFrame,
    docs: DataFrame | None = None,
    remove_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Incremental maintenance of a :func:`minhash_fit` model — the step
    a continuously-crawled store runs when :func:`corpus_diff` reports
    what changed: signatures for ``docs`` (the added + changed
    documents) REPLACE their ids' rows in ``model``, and ids in
    ``remove_ids`` drop.  Invariant (tested): ``minhash_update(
    minhash_fit(old), delta, removed) == minhash_fit(current)`` —
    updating is exactly refitting, minus re-hashing the unchanged 99%.

    The point at 100 TB: a refit pays text-scan + hash over the WHOLE
    accumulated corpus every crawl; the update hashes only the crawl
    delta and otherwise moves integer arrays — the model table never
    touches text again.  Keep ``num_perms`` / ``shingle_k`` /
    ``hash_fn`` identical to the fit (mismatched signatures cannot be
    detected at apply time).

    Scale shape: one signature pass over the delta's scan (codegen, no
    shuffle), one id anti-join of the model against the delta-id table
    and optionally one against ``remove_ids`` — both broadcastable when
    the delta is crawl-sized, AQE equi joins otherwise; the union is
    plan-level only.
    """
    if docs is None and remove_ids is None:
        raise ValueError("pass docs= and/or remove_ids=; neither given")
    out = model
    if docs is not None:
        # a replayed / re-crawled delta can carry the same id twice;
        # dedup first or every copy's signature row survives the
        # anti-join and lands as a duplicate model row.  The survivor
        # is the lexicographically-greatest text (NOT dropDuplicates,
        # whose pick is partition-order-dependent): a re-crawl carrying
        # the same id with CHANGED content must yield the same stored
        # signature on every run (ADVICE r11).
        docs = docs.groupBy(id_col).agg(F.max(text_col).alias(text_col))
        fresh = minhash_signatures(
            docs, id_col, text_col, num_perms, shingle_k, hash_fn
        )
        out = out.join(
            docs.select(id_col), id_col, "left_anti"
        ).unionByName(fresh)
    if remove_ids is not None:
        out = out.join(remove_ids.select(id_col), id_col, "left_anti")
    return out


def cross_corpus_dedup(
    incoming: DataFrame | None = None,
    reference: DataFrame | None = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    shingle_k: int = 3,
    hash_fn: str = "md5",
    model: DataFrame | None = None,
    incoming_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental-crawl dedup: flag ``incoming`` documents that
    near-duplicate a document already in the ``reference`` corpus — the
    two-corpus variant of MinHash-LSH every continuously-crawled
    training set runs per crawl snapshot (new data vs everything
    already kept), and the fuzzy analog of benchmark decontamination.

    Returns one row per flagged incoming doc: ``(id, ref_id, jaccard,
    n_matches)`` with ``ref_id`` the SMALLEST matching reference id (a
    deterministic witness), ``jaccard`` its exact verified similarity
    and ``n_matches`` the number of reference near-dups at ≥ threshold.
    Incoming docs with no match produce no row (keep set = anti-join).

    Scale shape: both sides compute signatures in one codegen pass over
    their own scan; candidates come from a (band, bucket) EQUI-join of
    the two band tables — shuffle is O((n_in + n_ref) · bands) and
    AQE-skew-splittable, never a cross product; the exact-Jaccard
    verify touches candidates only, and the per-doc witness is one hash
    aggregation. Unlike the self-join path there is no id ordering
    constraint — the two id spaces are independent.
    Pass ``model=`` (a :func:`minhash_fit` table, typically read back
    from parquet) instead of ``reference`` to dedup against a
    PRE-BUILT reference model without recomputing its signatures —
    the per-snapshot incremental-crawl path.  The model must have been
    fit with the same ``num_perms`` / ``shingle_k`` / ``hash_fn``.
    ``incoming_sigs=`` likewise substitutes a pre-computed signature
    table for the incoming side (the streaming crawl loop hashes each
    micro-batch ONCE and feeds the table to every stage).
    """
    from time_series_db_spark.cache import persist_tracked

    if (reference is None) == (model is None):
        raise ValueError(
            "pass exactly one of reference= (fit inline) or model= "
            "(a pre-built minhash_fit table)"
        )
    if incoming is None and incoming_sigs is None:
        raise ValueError("pass incoming= docs or incoming_sigs=")
    sigs_in = persist_tracked(
        incoming_sigs
        if incoming_sigs is not None
        else minhash_signatures(
            incoming, id_col, text_col, num_perms, shingle_k, hash_fn
        )
    )
    # the model table is referenced three times (band explode + two
    # verify joins) — persist it whether it arrived as a live plan or a
    # parquet scan, exactly like the inline-fit side
    sigs_ref = persist_tracked(
        model
        if model is not None
        else minhash_signatures(
            reference, id_col, text_col, num_perms, shingle_k, hash_fn
        )
    )

    def _buckets(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.array(*_band_buckets(num_perms, num_bands))).alias(
                "band", "bucket"
            ),
        )

    cands = (
        _buckets(sigs_in, "__in_id")
        .join(_buckets(sigs_ref, "__ref_id"), ["band", "bucket"])
        .select("__in_id", "__ref_id")
        .distinct()
    )
    verified = (
        cands.join(
            sigs_in.select(
                F.col(id_col).alias("__in_id"), F.col("shingles").alias("__sh_a")
            ),
            "__in_id",
        )
        .join(
            sigs_ref.select(
                F.col(id_col).alias("__ref_id"),
                F.col("shingles").alias("__sh_b"),
            ),
            "__ref_id",
        )
        .withColumn(
            "__common",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double"),
        )
        .select(
            "__in_id",
            "__ref_id",
            (
                F.col("__common")
                / (F.size("__sh_a") + F.size("__sh_b") - F.col("__common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )
    return verified.groupBy(F.col("__in_id").alias(id_col)).agg(
        F.min("__ref_id").alias("ref_id"),
        F.expr("min_by(jaccard, __ref_id)").alias("jaccard"),
        F.count(F.lit(1)).cast("long").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, simhash BIGINT): per-bit majority vote over token hashes.

    Tokens are exploded once; each bit's vote is a conditional sum in a
    single groupBy (bits aggregations, all combiner-friendly partials).
    """
    toks = (
        df.select(F.col(id_col), textprep.tokens(F.col(text_col)).alias("__t"))
        .select(F.col(id_col), F.explode("__t").alias("__tok"))
        .withColumn("__h", textprep.hash64(F.col("__tok"), "sim", hash_fn))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"__v{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    hash_fn: str = "md5",
    max_bucket: int | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Pairs (id_a, id_b, hamming) with Hamming(simhash) ≤ max_hamming.

    ``candidates_only=True`` returns the distinct banded candidate
    pairs BEFORE Hamming verification — the sweep/budget observability
    hook (the same contract as ``ahash_neardup_pairs``).

    Candidate generation joins on 16-bit fingerprint bands (pigeonhole:
    any pair within distance 2 shares an exact band; distance-3 pairs may
    need the verify-all fallback — with 3 bands over 48 bits a ≤3-bit
    difference still leaves ≥1 identical band whenever the flips don't
    spread across all three, the standard SimHash blocking trade-off).

    Saturation arithmetic (r13 occupancy-knob audit): each band has a
    FIXED 2^16 = 65,536-value key space, so even perfectly uniform
    fingerprints reach mean occupancy n/65,536 — candidates grow ~n²/65k
    per band once n clears ~65k docs, and real corpora are far from
    uniform (template/boilerplate docs collapse onto shared majority-vote
    patterns long before that).  ``max_bucket`` is the stop-band cap
    (the ``correlate_matrix`` discipline): band values shared by more
    than ``max_bucket`` docs are dropped before the self-join — a bucket
    that hot is a boilerplate cluster, not near-dup evidence, and exact
    dedup upstream owns identical text.  Recall caveat: a true pair
    whose ONLY agreeing band is capped is lost; with d ≤ 2 pairs
    agreeing on ≥ 1 of 3 bands by pigeonhole the redundancy is thin
    (unlike the 16-band wide aHash), so leave ``max_bucket=None`` below
    ~100k docs and budget-gate candidates above (bench.py counts them).
    """
    fps = simhash(df, id_col, text_col, bits, hash_fn)
    band_w = bits // 3
    mask = (1 << band_w) - 1
    bands = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * band_w).bitwiseAND(F.lit(mask))
                    for i in range(3)
                ]
            )
        ).alias("band", "key"),
    )
    if max_bucket is not None:
        if int(max_bucket) < 2:
            raise ValueError(
                f"max_bucket must be >= 2 to admit any pair, got {max_bucket}"
            )
        w = Window.partitionBy("band", "key")
        bands = (
            bands.withColumn("__occ", F.count(F.lit(1)).over(w))
            .filter(F.col("__occ") <= F.lit(int(max_bucket)))
            .drop("__occ")
        )
    # the band table feeds BOTH self-join legs; without a pin each leg
    # re-runs the fingerprint (a token explode + 48 vote aggregations —
    # the expensive half of the operator).  One tracked materialization
    # instead of two rebuilds: A/B at sf0.1 measured 3.73 → 1.88 s
    # capped and 2.69 → 1.66 s uncapped (released at the next query
    # boundary, the binary-matching-chain policy); the table is
    # (id, simhash, band, key) integers — O(n·bands) rows, the same
    # volume the join shuffle already carries.
    from time_series_db_spark.cache import persist_tracked

    bands = persist_tracked(bands)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__fa"),
            F.col("b.simhash").alias("__fb"),
        )
        .distinct()
    )
    if candidates_only:
        return cands.select("id_a", "id_b")
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the quadratic baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 2,
) -> DataFrame:
    """Exact Jaccard over word k-gram sets — prefix-filtered (AllPairs).

    Output-identical to the naive shingle equi-join (the r1–r12
    formulation), but the self-join runs on each document's PREFIX
    only — the standard prefix-filtering principle (Chaudhuri et al.
    ICDE'06 / Bayardo et al. WWW'07): order the shingle universe
    rarest-first (one document-frequency aggregation), sort each
    document's shingle set by that order, and keep the first
    ``n − floor(t·n) + 1`` shingles.  J(A,B) ≥ t implies
    |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets overlapping that much must
    collide inside these prefixes, so the candidate set is a provable
    superset of the answer (``floor`` instead of the tight ``ceil``
    keeps the prefix one longer — immune to float rounding of t·n).
    Candidates then verify with an EXACT intersection on the full
    per-document shingle-hash arrays, so the result is threshold-exact.
    Shingles travel as xxhash64 codes (narrower shuffle, integer
    equality) — the dedup_exact_substring convention: the DuckDB oracle
    intersects the shingle STRINGS, so a hash collision would surface
    as a differential mismatch, not hide.

    Still the documented quadratic-worst-case exact baseline (MinHash
    is the scale path), but the constant is the prefix fan-out, not the
    full inverted-index fan-out: at sf0.1 the join emits 9.9M rows
    instead of 36.5M and the (id_a, id_b, count) hash aggregation of
    10.3M groups disappears entirely (A/B: 17.2 s → see
    OPTIMIZATION_r13.md).
    """
    from time_series_db_spark.cache import persist_tracked

    t = float(threshold)
    sh = df.select(
        F.col(id_col),
        textprep.word_shingles(textprep.tokens(F.col(text_col)), shingle_k).alias(
            "__sh"
        ),
    )
    # shingles carried as their 64-bit hash from here on (the
    # dedup_exact_substring convention: the oracle works on the STRING,
    # Spark on its xxhash64 — a hash collision would surface as a
    # differential mismatch, not hide).  The explode is (id, hash)-unique
    # because documents' shingle arrays are array_distinct'd.
    flat = sh.select(
        F.col(id_col),
        F.explode(
            F.transform("__sh", lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    # document frequency per distinct shingle — a plain scalable hash
    # aggregation (no global window); (dfc, hash) is the rarest-first
    # total order the prefix filter sorts by
    dfreq = flat.groupBy("__h").agg(F.count(F.lit(1)).alias("__dfc"))
    # per-doc shingle-code array sorted rarest-first; persisted — it
    # feeds the prefix explode AND both verify legs (the band-table-pin
    # rule: the upstream is the tokenize + shingle + dfreq join, the
    # expensive half of the operator)
    codes = persist_tracked(
        flat.join(dfreq, "__h")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__dfc", "__h"))),
                lambda s: s.getField("__h"),
            ).alias("__codes")
        )
        .withColumn("__n", F.size("__codes"))
    )
    # prefix = first n − floor(t·n) + 1 codes (rarest shingles first)
    prefix = codes.select(
        F.col(id_col),
        F.col("__n"),
        F.explode(
            F.slice(
                F.col("__codes"),
                1,
                (F.col("__n") - F.floor(F.lit(t) * F.col("__n")) + 1).cast("int"),
            )
        ).alias("__sid"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # length filter inside the join: J ≥ t forces t·max(na,nb) ≤ min(na,nb)
    # (c ≤ min and c ≥ t·max); the small epsilon keeps the float bound a
    # superset at exact-ratio boundaries
    cand = (
        a.join(
            b,
            (F.col("a.__sid") == F.col("b.__sid"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.least(F.col("a.__n"), F.col("b.__n"))
                + F.lit(1e-9)
                >= F.lit(t) * F.greatest(F.col("a.__n"), F.col("b.__n"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    ca = codes.select(
        F.col(id_col).alias("id_a"),
        F.col("__codes").alias("__ca"),
        F.col("__n").alias("__na"),
    )
    cb = codes.select(
        F.col(id_col).alias("id_b"),
        F.col("__codes").alias("__cb"),
        F.col("__n").alias("__nb"),
    )
    verified = (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "__common", F.size(F.array_intersect("__ca", "__cb")).cast("double")
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(t))
    )
    return verified


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot_fold(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic FP order, so the
    DuckDB oracle (same fold) matches bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<DOUBLE> columns.

    A zero vector has no direction: its cosine is NULL (``try_divide``),
    which every consumer handles for free — threshold filters fail,
    descending ranks put NULLs last — instead of the ANSI
    DIVIDE_BY_ZERO error a plain ``/`` raises (Spark 4 default).  The
    DuckDB oracles mirror with ``/ nullif(denom, 0)``.
    """
    return F.try_divide(
        _dot_fold(a, b), F.sqrt(_dot_fold(a, a)) * F.sqrt(_dot_fold(b, b))
    )


#: banded hyperplane LSH defaults: candidate iff ALL ``EMB_PLANES_PER_BAND``
#: plane signs agree in AT LEAST ONE of ``EMB_BANDS`` bands (AND-OR
#: amplification, same construction as MinHash banding).
EMB_PLANES_PER_BAND = 4
EMB_BANDS = 6


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucketed: bool = True,
    planes_per_band: int | str = EMB_PLANES_PER_BAND,
    bands: int = EMB_BANDS,
    candidates_only: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs (id_a, id_b, cosine) with cosine ≥ threshold.

    ``candidates_only=True`` returns the deduped banded candidate set
    (id_a, id_b) BEFORE the exact-cosine verify — the cost driver the
    scale sweeps budget-check (same contract as
    multimodal.ahash_neardup_pairs).

    ``max_bucket`` (r12, default None = uncapped) is the stop-band cap
    the other banded operators already carry: buckets holding more than
    ``max_bucket`` ids are dropped before the self-join.
    ``planes_per_band="auto"`` holds AVERAGE occupancy, but a clustered
    corpus concentrates directions into few buckets — the r12
    two-decade sweep measured 152.6M candidates at 200k vectors (e ≈
    1.43 in candidates) with auto planes alone, all of it from skewed
    buckets.  A bucket denser than ``max_bucket`` is a direction
    cluster, exactly where random-hyperplane LSH carries no
    information; the documented tool for those corpora is
    :func:`semantic_dedup` (celled k-means), and dropping such buckets
    trades recall for a candidate bound the same way the ahash/
    correlate stop-bands do.

    ``bucketed=True`` (the scale path, and the registered catalog form):
    banded random-hyperplane LSH — each vector gets ``bands`` bucket ids
    (band b hashes planes [b·r, b·r+r)) scan-side via
    :func:`time_series_db_spark.pipeline.ann.hyperplane_bucket`; a pair
    is a candidate iff it collides in at least one band. The self-join
    carries ``(band, bucket)`` equality, so the shuffle co-partitions on
    the band key and each task compares only within-bucket candidates —
    O(B · Σ bucket²) instead of O(n²). Cosine is then computed exactly on
    the deduplicated candidate set. Recall < 1 by design; ``bands`` is
    the recall knob, ``planes_per_band`` the selectivity knob.

    ``planes_per_band="auto"`` scales the selectivity knob with the
    corpus: ``max(4, ceil(log2(n / 32)))`` planes, holding expected
    bucket occupancy ≈ 32 as the corpus grows.  A FIXED plane count has
    only ``2^planes`` buckets per band, so occupancy — and therefore
    candidate pairs, quadratically — grows with n: the r11 full-catalog
    exponent sweep measured e = 1.15 (150 s at 10×) for the fixed
    4-plane config vs a ~bounded candidate set under auto.  The trade
    is the standard LSH one: more planes per band lowers per-band
    collision probability for TRUE near-dups too, so recall at a fixed
    ``bands`` falls as the corpus grows — raise ``bands`` to buy it
    back, or use :func:`semantic_dedup` (celled k-means) for
    directionally-clustered corpora where banding is inherently
    unselective.

    ``bucketed=False`` is the exact all-pairs block join — the recall
    oracle for tests, quadratic by design.
    """
    if candidates_only and not bucketed:
        raise ValueError("candidates_only requires the bucketed path")
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    if not bucketed:
        a, b = vecs.alias("a"), vecs.alias("b")
        return (
            a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                cosine_expr(F.col("a.__v"), F.col("b.__v")).alias("cosine"),
            )
            .filter(F.col("cosine") >= F.lit(float(threshold)))
        )

    from time_series_db_spark.pipeline.ann import hyperplane_bucket

    if planes_per_band == "auto":
        import math

        n = df.count()
        planes_per_band = max(
            EMB_PLANES_PER_BAND, math.ceil(math.log2(max(n, 2) / 32))
        )
    planes_per_band = int(planes_per_band)
    sig = df.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    hyperplane_bucket(
                        F.col(vec_col),
                        num_planes=planes_per_band,
                        start_plane=b * planes_per_band,
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("__s"),
    ).select(id_col, F.col("__s.band").alias("band"), F.col("__s.bucket").alias("bucket"))
    if max_bucket is not None:
        wb = Window.partitionBy("band", "bucket")
        sig = (
            sig.withColumn("__occ", F.count(F.lit(1)).over(wb))
            .filter(F.col("__occ") <= F.lit(int(max_bucket)))
            .drop("__occ")
        )
    # the signature table feeds both self-join legs (and the occupancy
    # cap above) — without a pin each consumer re-folds the hyperplane
    # sign products over the full embedding column.  A/B at sf0.1
    # (auto planes, cap 128): 6.68 → 4.92 s, results byte-identical —
    # the simhash/ahash band-table pin applied here (r13).
    from time_series_db_spark.cache import persist_tracked

    sig = persist_tracked(sig)

    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if candidates_only:
        return cand
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_expr(F.col("__va"), F.col("__vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


# ---------------------------------------------------------------------------
# near-dup cluster resolution: pairs → components → survivors
# ---------------------------------------------------------------------------


#: edge bound for COORDINATOR-side component resolution: verified
#: near-dup pair sets are banding-budget-bounded (the bench asserts the
#: celled operators' candidate counts), so the usual case is thousands
#: of edges — a union-find over one bounded collect
#: (``cache.bounded_rows``) replaces O(diameter) shuffle rounds ×
#: (checkpoint job + convergence probe).  Above the bound the
#: distributed min-label-propagation loop runs (with the edge table
#: pinned so rounds re-read one materialization).  Identical output by
#: construction: component id = minimum reachable node id, and the
#: union-find orders ids like Spark's least/min (UTF8 binary ==
#: code-point order, one NaN node sorting above every number).
_CC_COORD_MAX_EDGES = 500_000

#: propagation rounds before the distributed loop raises: enough for
#: component diameter 19 (near-dup clusters have diameter 2-4)
_CC_MAX_ROUNDS = 20


class ComponentsNotConverged(RuntimeError):
    """Label propagation was still changing labels at the round cap."""


_NAN = float("nan")


def _union_find(rows) -> list[tuple]:
    """``(id, component)`` for every node of the collected ``(a, b)``
    edges.  Each tree's root is its minimum node, ordered like Spark's
    least/min: every NaN is one node, above every number."""
    index: dict = {}
    ids: list = []
    parent: list[int] = []

    def node(x) -> int:
        x = _NAN if x != x else x  # Python NaNs never compare equal
        if x not in index:
            index[x] = len(ids)
            ids.append(x)
            parent.append(len(parent))
        return index[x]

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def order(i: int) -> tuple:
        return (ids[i] != ids[i], ids[i])

    for r in rows:
        lo, hi = sorted((find(node(r["a"])), find(node(r["b"]))), key=order)
        parent[hi] = lo
    return [(x, ids[find(i)]) for i, x in enumerate(ids)]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(id, component) for every node in the pair graph — component id is
    the minimum node id reachable from it.  Edges with a NULL endpoint
    are dropped first, so a NULL id is never a node.

    Up to :data:`_CC_COORD_MAX_EDGES` edges, a driver-side union-find
    over one bounded collect resolves the components (the
    reference-coordinator shape, like the BPE trainer and the MMR
    selection).  Above it, min-label propagation: every node starts
    labeled with itself; each round takes the min of its own label and
    its neighbors' labels. A round is one shuffle (join + groupBy on
    node id) and is localCheckpoint'ed to truncate lineage — iterative
    joins otherwise compound the plan exponentially. Convergence needs
    O(component diameter) rounds; past :data:`_CC_MAX_ROUNDS` it raises
    :class:`ComponentsNotConverged`. (The production-hardened
    alternative for adversarial graph shapes is large-star/small-star;
    the plumbing here is the same joins.)
    """
    from time_series_db_spark.cache import bounded_rows, persist_tracked
    from time_series_db_spark.literals import literal_frame

    e2 = persist_tracked(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
        )
    )
    rows = bounded_rows(e2, _CC_COORD_MAX_EDGES)
    if rows is not None:
        idt = e2.schema["a"].dataType.simpleString()
        schema = f"id {idt}, comp {idt}"
        return literal_frame(edges.sparkSession, _union_find(rows), schema)

    adj = persist_tracked(
        e2.unionByName(
            e2.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    nodes = adj.select(F.col("a").alias("id")).distinct()
    labels = nodes.withColumn("comp", F.col("id")).localCheckpoint(eager=True)
    for _ in range(_CC_MAX_ROUNDS):
        nb_min = (
            adj.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("nc")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nc").alias("nmin"))
        )
        new = (
            labels.join(nb_min, labels["id"] == nb_min["a"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["comp"], F.coalesce(F.col("nmin"), labels["comp"])
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise ComponentsNotConverged(
        f"connected_components: labels still changing after "
        f"{_CC_MAX_ROUNDS} propagation rounds (a component's diameter "
        f"exceeds the cap)"
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup pairs into kept documents: group pairs into
    connected components and keep one canonical document per component
    (the minimum id — deterministic), plus every document in no pair.

    This is the step a training-data pipeline actually ships: pair
    generation (MinHash/SimHash/embedding) feeds it, and its output is
    the deduplicated corpus. One anti-join against the loser set.
    """
    cc = connected_components(pairs)
    losers = cc.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# semantic dedup: k-means clusters + within-cluster cosine prune (SemDeDup)
# ---------------------------------------------------------------------------


#: target mean cell size for ``semantic_dedup(nlist="auto")``: within-
#: cell pair work is ~cell²/2, so a 512-vector cell costs ~131k dot
#: products — large enough that Lloyd stays cheap relative to the scan,
#: small enough that one cell's pair block always fits a task
SEMANTIC_TARGET_CELL = 512


def semantic_dedup(
    df: DataFrame,
    nlist: int | str = "auto",
    train_iters: int = 2,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space with k-means, then within each cluster drop every document
    whose cosine similarity to a lower-id document in the SAME cluster
    is ≥ ``threshold``. Returns the survivors as (id, cell).

    Distributed shape: centroids are trained by deterministic Lloyd
    rounds (:func:`~time_series_db_spark.pipeline.ann.kmeans_centroids`)
    and broadcast, so assignment is a map-side cross join — the corpus
    never shuffles for clustering. The near-dup scan is a self-join on
    the cell id: the shuffle co-partitions on ``cell``, and each task
    compares only within-cluster pairs — O(Σ cell²), with cell sizes
    held ~constant by scaling ``nlist`` ∝ corpus size (the paper's
    regime), never the all-pairs O(n²). Survivor rule: keep the minimum
    id of each similar group (deterministic; the paper keeps the item
    farthest from the centroid — same asymptotics, different tie-break).

    ``nlist="auto"`` (the default, r13 occupancy-knob audit) IS that
    regime made standing: ``max(16, ceil(n / SEMANTIC_TARGET_CELL))``
    cells, so mean cell size — and with it the per-cell pair block —
    stays ~constant as the corpus grows instead of the within-cell join
    silently going quadratic at a fixed ``nlist`` (at 200k vectors a
    fixed nlist=16 means 12.5k-vector cells → ~78M pairs per cell; the
    same arithmetic that emptied ``correlate_matrix`` at 100×).  Note
    the auto path runs an eager ``count()`` at plan-build time (one
    metadata-cheap scan), mirroring ``band_symbols="auto"``; pass an
    int to keep plan construction fully lazy.
    """
    from time_series_db_spark.pipeline import ann

    vecs = df.select(
        F.col(id_col), ann._as_double(F.col(vec_col)).alias("__v")
    )
    if nlist == "auto":
        n = vecs.count()
        nlist = max(16, -(-n // SEMANTIC_TARGET_CELL))
    elif not isinstance(nlist, int) or int(nlist) <= 0:
        raise ValueError(f"nlist must be a positive int or 'auto', got {nlist!r}")
    # past the hierarchy threshold the FLAT Lloyd/assign scans are the
    # next quadratic term (N × nlist evals, nlist ∝ N — r13 sweep: 78M
    # evals/iter at 200k vectors, overtaking the 51M-pair cell join) —
    # route both the training and the final assignment two-level
    hier = nlist >= ann.HIER_ASSIGN_MIN_NLIST
    if hier:
        _nl = int(nlist)

        def assign(*a, **k):
            return ann.ivf_assign_hier(*a, n_cents=_nl, **k)
    else:
        assign = ann.ivf_assign
    cents = F.broadcast(
        ann.kmeans_centroids(
            vecs, nlist=nlist, iters=train_iters, id_col=id_col,
            hierarchical=hier,
        )
    )
    # normalize ONCE per vector so the quadratic within-cell pass is a
    # plain dot product — 3× fewer interpreted float ops per pair than
    # cosine (the pair count, Σ cell², dominates everything else here).
    # The norm is bound once per row (textprep.bind_once): an unbound
    # lambda reference re-runs the O(d) dot fold per ELEMENT — O(d²)
    # per vector (r13, the interpreted-HOF re-evaluation family).
    unit = textprep.bind_once(
        F.sqrt(_dot_fold(F.col("__v"), F.col("__v"))),
        lambda nrm: F.transform(F.col("__v"), lambda x: F.try_divide(x, nrm)),
    )
    from time_series_db_spark.cache import persist_tracked

    # the assignment (broadcast cross join + per-vector rank + normalize)
    # feeds BOTH self-join legs and the final anti-join — one tracked
    # materialization instead of three recomputes (released at the next
    # query boundary, same policy as the binary matching chain)
    cells = persist_tracked(
        assign(vecs, cents, nprobe=1, id_col=id_col).select(
            F.col(id_col), F.col("__cell").alias("cell"), unit.alias("__u")
        )
    )
    a = cells.select(
        F.col(id_col).alias("__ida"), F.col("__u").alias("__ua"),
        F.col("cell").alias("__ca"),
    )
    b = cells.select(
        F.col(id_col).alias("__idb"), F.col("__u").alias("__ub"),
        F.col("cell").alias("__cb"),
    )
    dropped = (
        a.join(b, (F.col("__ca") == F.col("__cb")) & (F.col("__ida") < F.col("__idb")))
        .filter(
            _dot_fold(F.col("__ua"), F.col("__ub")) >= F.lit(float(threshold))
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return cells.join(dropped, id_col, "left_anti").select(
        id_col, F.col("cell").cast("long").alias("cell")
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 16,
) -> DataFrame:
    """Exact duplicate-span removal at word-chunk granularity — the
    Spark-distributable adaptation of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): a suffix array is inherently sequential,
    so the distributed form dedups TUMBLING ``chunk_words``-word chunks;
    any duplicated span ≥ 2·chunk_words−1 words is guaranteed to contain
    a duplicated chunk.

    Every chunk keeps exactly its GLOBAL first occurrence (ordered by
    (id, chunk_idx)); later occurrences are cut from their documents and
    the survivors re-joined in order. Returns one row per document:
    (id, n_chunks, n_kept, text_clean).

    Scale shape: chunking is scan-side (split + slice, no shuffle). The
    first-occurrence choice is a min-struct **aggregation** on the chunk
    hash — NOT a row_number window — so map-side partial aggregation
    absorbs hot chunks (boilerplate repeated millions of times) before
    the shuffle, and the join back on the hash is AQE-skew-splittable;
    a window would pile every copy of a hot chunk onto one reducer.
    Chunk identity is xxhash64 (64-bit): collisions at 100 TB
    (~2⁴⁴ chunks) remain ~2⁻²⁰-improbable per corpus; the DuckDB
    differential dedups on the chunk STRING, so a collision would
    surface as a mismatch rather than hide.
    """
    k = int(chunk_words)
    if k <= 0:
        raise ValueError(f"chunk_words must be positive, got {chunk_words}")
    words = F.split(F.col(text_col), " ")
    chunks = (
        df.select(F.col(id_col), words.alias("__w"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("__w") / F.lit(float(k))).cast("int") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice("__w", i * k + 1, k), " "
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .withColumn("__h", F.xxhash64("chunk"))
    )
    keeper = chunks.groupBy("__h").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("kid"), F.col("chunk_idx").alias("kidx")
            )
        ).alias("__keep")
    )
    flagged = chunks.join(keeper, "__h").withColumn(
        "__first",
        (F.col(id_col) == F.col("__keep.kid"))
        & (F.col("chunk_idx") == F.col("__keep.kidx")),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("__first"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__first"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_clean"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, assign
    every document the sampling weight ``1 / |its near-dup cluster|``
    (unpaired docs weigh 1) — cluster mass stays constant under
    duplication, so a document crawled 40 times contributes the same
    expected tokens as one crawled once.  This is the down-weighting
    alternative to :func:`dedup_survivors` when hard removal is too
    blunt (the duplicates may carry distinct metadata, or the sampler
    downstream wants the choice).

    Returns ``docs`` ids with ``(cluster_size, weight)``.

    Scale shape: components resolve over the PAIR graph only (near-dup
    pairs are a vanishing fraction of a 100 TB corpus); cluster sizes
    are one groupBy over the component labels; the corpus pays one
    left join against that metadata-sized table — broadcast when it
    fits, AQE otherwise, never a corpus self-join.
    """
    cc = connected_components(pairs)
    sizes = cc.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    doc_sizes = cc.join(sizes, "comp").select(
        F.col("id").alias(id_col), "cluster_size"
    )
    return (
        docs.select(id_col)
        .join(doc_sizes, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")
            ).alias("weight"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot bookkeeping between two corpus versions: per document
    id, whether it was ``added`` (only in the new snapshot),
    ``removed`` (only in the old), ``changed`` (present in both with
    different content), or ``unchanged`` — the incremental-crawl audit
    that decides what downstream stages (dedup, embedding, indexing)
    actually need to reprocess.  Content identity is the md5-based
    64-bit hash of the RAW text (not normalized — whitespace edits ARE
    changes for reprocessing purposes).  Returns ``(id_col, status)``.

    100 TB shape: each snapshot collapses to (id, content-hash) on its
    own scan, then ONE full-outer equi-join on id — no broadcast
    assumption on either side (both snapshots are corpus-sized); the
    status is a pure row expression over null-ness and hash equality.
    Near-duplicate (rather than exact) cross-snapshot matching is
    :func:`cross_corpus_dedup`'s job.
    """
    oh = old.select(
        F.col(id_col),
        textprep.hash64(F.col(text_col), "snap").alias("__ho"),
    )
    nh = new.select(
        F.col(id_col),
        textprep.hash64(F.col(text_col), "snap").alias("__hn"),
    )
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return oh.join(nh, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int | str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment where near-duplicate
    CLUSTERS never straddle splits — the leakage-safe version of the
    naive per-document hash split.  A near-dup of a training document
    sitting in the test set is eval contamination the per-doc split
    manufactures by construction; here the unit of assignment is the
    connected component of the near-dup pair graph (unpaired documents
    are their own unit), so duplicates travel together.  Returns
    ``(id_col, cluster_id, split)`` for every document.

    Assignment is pure hashing, no randomness: ``hash64(cluster_id) mod
    10000`` lands in integer buckets sized by ``weights`` (quantized to
    1e-4 — thresholds compare as INTEGERS so the boundary cannot drift
    between engines), which makes splits reproducible across runs,
    engines, and corpus growth (a new document joins a split without
    moving old ones — unless it pairs into an existing cluster, which
    is exactly the leakage case that SHOULD move it).

    Scale shape: the :func:`soft_dedup_weights` shape — components over
    the pair graph only, the corpus pays one left join against the
    metadata-sized component table; the hash and bucketing are pure
    row expressions.
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative and non-empty")
    total = sum(float(w) for w in weights.values())
    if abs(total - 1.0) > 1e-4:
        raise ValueError(f"weights must sum to 1 (got {total})")
    # quantize CUMULATIVE sums, not per-weight: rounding each weight
    # independently rejects valid inputs like {1/3, 1/3, 1/3} (whose
    # per-weight roundings sum to 9999); cumulative cuts always end at
    # 10000 once the tolerance check above passes
    cuts = []
    acc = 0.0
    for name, w in weights.items():
        acc += float(w)
        cuts.append((name, round(acc * 10000)))
    cuts[-1] = (cuts[-1][0], 10000)
    cc = connected_components(pairs)
    assigned = docs.select(id_col).join(
        cc.withColumnRenamed("id", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("comp"), F.col(id_col))
    bucket = F.pmod(
        textprep.hash64(cluster.cast("string"), seed), F.lit(10000)
    )
    expr = None
    for name, cut in cuts[:-1]:
        cond = bucket < F.lit(int(cut))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(cuts[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return assigned.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        expr.alias("split"),
    )


def boilerplate_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 3,
    min_docs: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-wide boilerplate removal: cut every tumbling
    ``span_words``-word span that occurs in ``min_docs`` or more
    DISTINCT documents — from ALL of them, first occurrence included.
    This is the prevalence-threshold policy of MassiveText/RefinedWeb
    line-dedup (Rae et al. 2021 §A1.2; Penedo et al. 2023 §4.2): a span
    shared by many documents is template text (navigation bars, cookie
    notices, license headers) that no document should keep, which is
    the opposite keep-rule from :func:`exact_substring_dedup`'s
    global-first-occurrence-wins.  The reference engine has no corpus
    analytics tier; this extends its ingest-dedup idea
    (TimeSeriesIdFieldMapper dedups series ids at write time) to
    document content.

    Spans are tumbling (non-overlapping), so a template region of
    ≥ 2·span_words−1 words occurring at the SAME word offset mod
    ``span_words`` across documents is guaranteed to contain a shared
    span; occurrences at different alignments (a variable-length
    headline before the template) can straddle span boundaries
    differently and escape — smaller ``span_words`` shrinks that
    window, and alignment-free removal is exactly what the
    shingle-based :func:`minhash_dedup_pairs` path provides at the
    document level (honest limitation, caught in review).
    Prevalence counts distinct DOCUMENTS (a phrase repeated inside one
    document is repetition, not boilerplate — :func:`text.repetition`
    covers that).  Returns one row per document: ``(id, n_spans,
    n_removed, text_clean)``.

    Scale shape: span chunking is scan-side (split + slice, zero
    shuffle).  Prevalence is distinct-(span, doc) then a count per span
    hash — both partial-aggregation-friendly shuffles on the span hash,
    so a nav bar repeated on a billion pages collapses map-side instead
    of piling onto one reducer; the flag join back is an equi join on
    the same hash (AQE-skew-splittable).  Reassembly shares the
    ``id_col`` shuffle every per-doc stage uses.  ``hash_fn="md5"`` is
    the oracle-portable default; pass ``"xxhash64"`` for the JVM-native
    production path (the policy is hash-agnostic).
    """
    k = int(span_words)
    if k <= 0:
        raise ValueError(f"span_words must be positive, got {span_words}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # spread the raw docs before the hash-heavy explode (the
    # cosine_topk lesson: a compact parquet corpus arrives as 1-2
    # splits; A/B-measured 1.17 s → 0.69 s at sf0.1) — gated on the
    # input split count so a well-split large scan skips the shuffle
    df = textprep.rebalance_if_narrow(df)
    words = F.split(F.col(text_col), " ")
    spans = (
        df.select(F.col(id_col), words.alias("__w"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("__w") / F.lit(float(k))).cast("int") - 1,
                    ),
                    lambda i: F.array_join(F.slice("__w", i * k + 1, k), " "),
                )
            ).alias("span_idx", "span"),
        )
        .withColumn("__h", textprep.hash64(F.col("span"), "span", fn=hash_fn))
    )
    prevalence = (
        spans.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_docs"))
    )
    flagged = spans.join(prevalence, "__h").withColumn(
        "__keep", F.col("__n_docs") < F.lit(int(min_docs))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("span_idx", "span"))
                    )
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_clean"),
    )
