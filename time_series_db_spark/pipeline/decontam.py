"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set on long word n-grams.

The standard pretraining hygiene step (the GPT-3 appendix C / PaLM
"contamination" methodology): a training document is contaminated when it
shares at least ``min_hits`` distinct word n-grams with any benchmark
document.  Collisions are computed on 64-bit n-gram hashes, so the eval
side reduces to a small set of longs.

100 TB shape: the benchmark set is tiny relative to the corpus (eval
suites are thousands of documents, the corpus is billions), so its
distinct n-gram hashes BROADCAST; the corpus side explodes its n-grams
map-side and the broadcast hash join filters them to the (rare) hits
before any shuffle — the only shuffled rows are actual collisions, and
the per-doc hit count is a partial aggregate on top.  Nothing quadratic,
nothing driver-side.  The hash never reaches the OUTPUT (the report
carries doc ids and distinct-collision counts, not hash values), so the
default is the JVM-native ``xxhash64`` — identical results to the
md5-based portable hash for any collision-free hash, ~10× cheaper per
gram, no hex→int round-trip (r13 optimization, guide §4.1: cheaper
expression choice inside codegen).  The DuckDB oracles keep the
md5-based :func:`~time_series_db_spark.pipeline.textprep.hash64`
rendering: both sides count distinct-gram collisions between the same
two string sets, so the differential still pins exactness — and would
surface an xxhash64 collision as a mismatch instead of hiding it.
Pass ``hash_fn="md5"`` to reproduce the oracle's intermediate values
bit-for-bit when debugging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from time_series_db_spark.pipeline import textprep


def ngram_hash_set(text_col: Column, n: int, hash_fn: str = "xxhash64") -> Column:
    """Distinct hashed word n-grams of a text column (whole document as
    one gram when shorter than n tokens — same convention as the MinHash
    shingle set)."""
    grams = textprep.word_shingles(textprep.tokens(text_col), n)
    return F.transform(
        grams, lambda g: textprep.hash64(g, "decontam", fn=hash_fn)
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-corpus-document contamination report against ``eval_set``.

    Returns ``(id_col, n_collisions, contaminated)`` — one row per corpus
    document; ``n_collisions`` counts DISTINCT overlapping n-gram hashes,
    ``contaminated`` is ``n_collisions >= min_hits``.  Filter on
    ``~contaminated`` for the cleaned corpus.
    """
    if n <= 0:
        raise ValueError("n-gram length must be positive")
    if min_hits <= 0:
        raise ValueError("min_hits must be positive")
    eval_h = (
        eval_set.select(
            F.explode(ngram_hash_set(F.col(text_col), n, hash_fn)).alias("__gh")
        )
        .distinct()
    )
    hits = (
        corpus.select(
            F.col(id_col),
            F.explode(ngram_hash_set(F.col(text_col), n, hash_fn)).alias("__gh"),
        )
        .join(F.broadcast(eval_h), on="__gh", how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_collisions"))
    )
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_collisions"), F.lit(0)).alias("n_collisions"),
            (F.coalesce(F.col("n_collisions"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    m_bits: int | None = None,
    k_hashes: int = 4,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-bitmap prefilter — EXACT
    semantics, different 100 TB cost profile.

    :func:`decontaminate` broadcasts the eval set's distinct n-gram
    hashes (8 bytes per gram: a full eval *suite* can reach hundreds of
    MB) to every task.  Here the eval grams compress into an ``m_bits``
    Bloom bitmap (``m_bits/8`` bytes — 128 KB at the default 2²⁰,
    independent of eval size) carried as a one-row broadcast; the
    corpus side tests its exploded grams with pure bit arithmetic
    (double hashing: k probe positions derived from the one portable
    64-bit gram hash), and only the *surviving* grams — true hits plus
    the bounded false-positive trickle — reach the exact-confirm join
    against the real eval hashes.  Bloom filters have NO false
    negatives, so the confirm join makes the output identical to
    :func:`decontaminate` (one shared SQL oracle covers both).

    The confirm join's eval side is NOT force-broadcast: survivors are
    rare, so when the eval suite is genuinely huge Catalyst can shuffle
    two small sides instead of shipping the full hash set everywhere —
    exactly the case the bitmap exists for.

    ``m_bits=None`` (default) AUTO-SIZES the bitmap to the eval set:
    ~16 bits per distinct eval gram rounded up to a power of two (≲1%
    false positives), measured by one metadata-sized count on the tiny
    side — an undersized fixed bitmap stays CORRECT (the confirm join
    absorbs the false-positive flood) but silently loses the prefilter
    (the 10× scale self-check caught exactly that with the old fixed
    2²⁰ default).

    Output: ``(id_col, n_collisions, contaminated)``.
    """
    if m_bits is not None and (m_bits <= 0 or m_bits & (m_bits - 1)):
        raise ValueError("m_bits must be a positive power of two")
    if k_hashes <= 0:
        raise ValueError("k_hashes must be positive")
    if n <= 0:
        raise ValueError("n-gram length must be positive")
    if min_hits <= 0:
        raise ValueError("min_hits must be positive")

    from time_series_db_spark.cache import persist_tracked, probe_memo
    from time_series_db_spark.literals import literal_frame

    eval_h = persist_tracked(
        eval_set.select(
            F.explode(ngram_hash_set(F.col(text_col), n, hash_fn)).alias("__gh")
        )
        .distinct()
    )

    def _probes_for(mask: int, gh: Column) -> list[Column]:
        # double hashing (Kirsch–Mitzenmacher): pos_i = h1 + i·h2 mod m
        # from the single 64-bit gram hash; h2 forced odd so the probe
        # sequence walks the full power-of-two table
        h1 = gh.bitwiseAND(F.lit(mask))
        h2 = (
            F.shiftrightunsigned(gh, 32).bitwiseOR(F.lit(1))
        ).bitwiseAND(F.lit(mask))
        return [
            (h1 + F.lit(i) * h2).bitwiseAND(F.lit(mask))
            for i in range(k_hashes)
        ]

    def _build() -> tuple[int, list[int]]:
        m = m_bits
        if m is None:
            # metadata-sized count on the tiny (persisted) side
            n_grams = eval_h.count()
            m = 1 << max(10, (max(1, 16 * n_grams) - 1).bit_length())
        # bitmap build: k positions per eval gram → (word, bit) →
        # bit_or per word — at most m/64 rows cross to the driver
        # (metadata-sized: 16384 longs at the default m)
        words = (
            eval_h.select(
                F.explode(
                    F.array(*_probes_for(m - 1, F.col("__gh")))
                ).alias("__pos")
            )
            .select(
                F.shiftrightunsigned(F.col("__pos"), 6)
                .cast("int")
                .alias("__w"),
                # Python-API shiftleft only takes literal shift amounts
                # — the per-row bit position needs the SQL form
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(__pos & 63 AS INT))"
                ).alias("__b"),
            )
            .groupBy("__w")
            .agg(F.expr("bit_or(__b)").alias("__word"))
            .collect()
        )
        bm = [0] * (m // 64)
        for r in words:
            bm[r["__w"]] = r["__word"]
        return m, bm

    # the bitmap is a pure function of the (persisted) eval plan and the
    # knobs — the binary-probe discipline applies: memoized per scope so
    # identical re-runs skip the count + bitmap-build jobs entirely
    m_bits, bitmap = probe_memo(
        eval_h,
        f"bloom_bitmap:{n}:{k_hashes}:{m_bits}:{hash_fn}",
        _build,
    )
    mask = m_bits - 1

    def probes(gh: Column) -> list[Column]:
        return _probes_for(mask, gh)

    bits = literal_frame(
        corpus.sparkSession, [(bitmap,)], "__bloom array<bigint>"
    )

    grams = (
        corpus.select(
            F.col(id_col),
            F.explode(ngram_hash_set(F.col(text_col), n, hash_fn)).alias("__gh"),
        )
        .crossJoin(F.broadcast(bits))
        .select(
            "*",
            *[
                p.alias(f"__p{i}")
                for i, p in enumerate(probes(F.col("__gh")))
            ],
        )
    )
    member = None
    for i in range(k_hashes):
        # bit test in SQL (per-row shift amounts): word >> bit & 1
        test = F.expr(
            f"(shiftright(element_at(__bloom, "
            f"CAST(shiftrightunsigned(__p{i}, 6) + 1 AS INT)), "
            f"CAST(__p{i} & 63 AS INT)) & 1) = 1"
        )
        member = test if member is None else (member & test)
    survivors = grams.filter(member).select(id_col, "__gh")
    hits = (
        survivors.join(eval_h, on="__gh", how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_collisions"))
    )
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_collisions"), F.lit(0)).alias("n_collisions"),
            (F.coalesce(F.col("n_collisions"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def overlap_score(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Continuous contamination scoring — the graded companion to
    :func:`decontaminate`'s binary flag: per corpus document, the
    FRACTION of its distinct word n-grams that appear anywhere in
    ``eval_set`` (``overlap`` ∈ [0, 1]).  Pipelines threshold this
    (e.g. drop > 0.8, audit 0.2–0.8) instead of dropping on a single
    collision; it is also the signal for near-verbatim eval leakage
    that a min_hits cutoff hides.  Output: ``(id_col, n_grams,
    n_collisions, overlap)`` — one row per corpus document.

    Same 100 TB shape as :func:`decontaminate`: eval hashes broadcast —
    but only after a bounded probe proves the gram set fits
    (``text._broadcast_if_bounded``): eval SUITES are metadata-sized,
    yet a caller pointing this at a mega-benchmark union would
    otherwise ship gigabytes to every executor (use
    :func:`decontaminate_bloom`'s fixed-size bitmap there).  Corpus
    grams explode map-side, only collisions shuffle; the per-doc gram
    total rides the same scan (``size`` on the already-built shingle
    array — no second tokenization).
    """
    if n <= 0:
        raise ValueError("n-gram length must be positive")
    from time_series_db_spark.cache import persist_tracked
    from time_series_db_spark.pipeline.text import _broadcast_if_bounded

    # the gram table feeds BOTH the per-doc totals and the collision
    # join; without the persist the n-gram md5 pass over the corpus
    # text runs twice per call and the warm-cache bench path re-pays it
    # every run (A/B at sf0.1, bench protocol: 11.9 s → 1.4 s)
    g = persist_tracked(
        corpus.select(
            F.col(id_col),
            ngram_hash_set(F.col(text_col), n, hash_fn).alias("__ghs"),
        )
    )
    totals = g.select(
        id_col, F.size("__ghs").cast("long").alias("n_grams")
    )
    eval_h = (
        eval_set.select(
            F.explode(ngram_hash_set(F.col(text_col), n, hash_fn)).alias("__gh")
        )
        .distinct()
    )
    hits = (
        g.select(F.col(id_col), F.explode("__ghs").alias("__gh"))
        .join(_broadcast_if_bounded(eval_h, "overlap_eval_grams"), on="__gh",
              how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_collisions"))
    )
    return (
        totals.join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            "n_grams",
            F.coalesce(F.col("n_collisions"), F.lit(0)).cast("long")
            .alias("n_collisions"),
            (
                F.coalesce(F.col("n_collisions"), F.lit(0))
                / F.col("n_grams")
            ).alias("overlap"),
        )
    )


def eval_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The EVAL-SIDE view of contamination — the transpose of
    :func:`overlap_score`: per eval item, the fraction of ITS distinct
    word n-grams that appear anywhere in the training corpus.  This is
    the question a benchmark owner asks ("which of my test items leak
    into the training set, and how badly?") where overlap_score
    answers the curator's ("which training docs should I drop?") —
    both directions are needed: dropping contaminated TRAINING docs
    cleans the corpus, but only the eval-side view tells you which
    BENCHMARK numbers were already compromised.  Output: one row per
    eval item, ``(id_col, n_grams, n_hits, hit_rate)``.

    100 TB shape: the corpus is scanned ONCE, its exploded grams
    filtered map-side by the (probe-gated) broadcast eval gram set —
    only collisions survive, and the distinct set of collided hashes
    is bounded by the EVAL gram universe, so everything after the scan
    is metadata-sized; per-item totals ride the eval-side shingle
    arrays.  Never the reverse join (a corpus gram set can be
    billions of rows and broadcasts nowhere)."""
    if n <= 0:
        raise ValueError("n-gram length must be positive")
    from time_series_db_spark.pipeline.text import _broadcast_if_bounded

    g = eval_set.select(
        F.col(id_col),
        ngram_hash_set(F.col(text_col), n, hash_fn).alias("__ghs"),
    )
    totals = g.select(
        id_col, F.size("__ghs").cast("long").alias("n_grams")
    )
    eval_h = g.select(F.explode("__ghs").alias("__gh")).distinct()
    collided = (
        corpus.select(
            F.explode(
                ngram_hash_set(F.col(text_col), n, hash_fn)
            ).alias("__gh")
        )
        .join(_broadcast_if_bounded(eval_h, "eval_grams"), "__gh")
        .select("__gh")
        .distinct()
    )
    hits = (
        g.select(F.col(id_col), F.explode("__ghs").alias("__gh"))
        .join(collided, "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_hits"))
    )
    return (
        totals.join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
            .alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_grams")
            ).alias("hit_rate"),
        )
    )
