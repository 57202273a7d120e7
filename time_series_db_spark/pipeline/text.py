"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure Catalyst expressions over the ``documents`` table — one scan,
no shuffle, no UDFs: at 100 TB these run at parquet-scan speed with
column pruning (only ``doc_id, text`` are read).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_db_spark.pipeline import textprep
from time_series_db_spark.pipeline.textprep import FP_BASE, FP_MOD

#: tiny per-language marker-word lists (n-gram-heuristic language ID —
#: stand-in for a real fastText-style model, which would be a Pandas UDF)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "row", "table", "value"],
    "fr": ["le", "la", "et", "de", "un", "est", "dans", "une", "les", "pour"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "den", "von"],
    "es": ["el", "la", "y", "de", "que", "en", "un", "es", "los", "una"],
    "zh": ["de5", "shi4", "zai4", "he2", "you3", "wo3", "le5", "bu4", "ren2", "ta1"],
}


def _marker_hits(tok: Column, words: list[str]) -> Column:
    return F.size(F.filter(tok, lambda t: t.isin(*words)))


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pred_lang, lang_hits): argmax of marker-word hit counts,
    alphabetical tie-break — deterministic n-gram heuristic language ID."""
    tok = textprep.tokens(F.col(text_col))
    scored = df.select(
        F.col(id_col),
        *[
            _marker_hits(tok, words).alias(f"__{lang}")
            for lang, words in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    # argmax with alphabetical tie-break: fold over languages in order,
    # replacing only on a strictly greater score
    best_lang = F.lit(langs[0])
    best_score = F.col(f"__{langs[0]}")
    for lang in langs[1:]:
        better = F.col(f"__{lang}") > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, F.col(f"__{lang}")).otherwise(best_score)
    return scored.select(
        F.col(id_col),
        best_lang.alias("pred_lang"),
        best_score.cast("long").alias("lang_hits"),
    )


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features mirror the standard training-data filters (Gopher/C4-style):
    length, mean word length, type-token ratio, stopword ratio,
    non-alphanumeric ratio.  ``keep_cols`` ride along untouched (e.g. a
    source column for :func:`source_stats` — avoids a join back).
    """
    tok = textprep.tokens(F.col(text_col))
    en_stop = LANG_MARKERS["en"]
    feats = df.select(
        F.col(id_col),
        *keep_cols,
        F.length(textprep.normalize(F.col(text_col))).cast("double").alias("n_chars"),
        F.size(tok).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("double").alias("n_uniq"),
        _marker_hits(tok, en_stop).cast("double").alias("__stop"),
        (
            F.length(F.regexp_replace(textprep.normalize(F.col(text_col)), "[a-z0-9 ]", ""))
        ).cast("double").alias("__nonalnum"),
    )
    return feats.select(
        F.col(id_col),
        *keep_cols,
        F.col("n_chars"),
        F.col("n_tokens"),
        ((F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens")).alias(
            "mean_word_len"
        ),
        (F.col("n_uniq") / F.col("n_tokens")).alias("ttr"),
        (F.col("__stop") / F.col("n_tokens")).alias("stopword_ratio"),
        (F.col("__nonalnum") / F.col("n_chars")).alias("nonalnum_ratio"),
        (
            F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
            + (F.col("n_uniq") / F.col("n_tokens")) * 0.4
            + F.least(
                (F.col("__stop") / F.col("n_tokens")) * 5.0, F.lit(1.0)
            ) * 0.2
        ).alias("quality"),
    )


#: BPE-ish pre-tokenizer: letter runs, single digits, or single symbols —
#: the GPT-2-style pre-split shape, counted (not encoded)
BPE_REGEX = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, ws_tokens, bpe_tokens): whitespace count + BPE-ish regex count."""
    norm = textprep.normalize(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(F.split(norm, " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(BPE_REGEX), 0)).cast("long").alias(
            "bpe_tokens"
        ),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fingerprint): order-sensitive rolling hash over tokens.

    acc ← (acc·131 + h(token) mod 10⁶) mod (10⁹+7), left-to-right — a
    Rabin-Karp-style document fingerprint; stable under whitespace
    normalization, sensitive to word order (unlike the shingle sets).
    """
    tok = textprep.tokens(F.col(text_col))
    fp = F.aggregate(
        F.transform(tok, lambda t: textprep.hash64(t, "fp") % 1_000_000),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_BASE + h) % FP_MOD,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """DISTINCT-bigram statistics per document — NOT the Gopher
    duplicate-n-gram fraction.  The shingle layer
    (:func:`textprep.word_shingles`) is ``array_distinct``-ed by
    contract, so ``dup_bigram_frac`` is identically ``0.0``
    (1 − distinct/total over a distinct set) and ``top_bigram_frac`` is
    ``1/n_bigrams`` — the only informative output is ``n_bigrams``, the
    distinct-bigram count.  This degeneracy is pre-existing (r1–r13
    produced the same constants through the full aggregation pipeline;
    the r13 collapse only made it visible) and the outputs are pinned
    by the oracle, so they stay as documented constants: do NOT use
    these columns as a repetition/boilerplate signal — a real
    Gopher-style filter needs the bigram MULTISET, which would be a new
    operator (advisory r13).

    Scale shape: ZERO shuffles — the whole statistic is per-row array
    math.  :func:`textprep.word_shingles` returns an
    ``array_distinct``-ed shingle array, so every (doc, gram)
    multiplicity is exactly 1 by construction; the former
    explode → groupBy(doc, gram) → groupBy(doc) pipeline (two full
    exchanges of the gram strings) therefore reduced algebraically to
    ``n_bigrams = size(grams)``, ``uniq = n_bigrams``,
    ``top = 1`` — output-identical (differential-verified vs the
    unchanged DuckDB oracle, which still runs the full two-aggregation
    formulation over the same distinct shingle list), at parquet-scan
    speed (r13 optimization: 4.1 s → see OPTIMIZATION_r13.md).
    """
    grams = textprep.word_shingles(
        textprep.tokens(F.col(text_col)), 2
    )
    # word_shingles is never empty (short docs yield the whole document
    # as one shingle), so every document emits exactly one row — the
    # same rows the explode formulation produced
    return df.select(
        F.col(id_col),
        F.size(grams).cast("long").alias("n_bigrams"),
    ).select(
        id_col,
        "n_bigrams",
        # multiplicities are all 1 (array_distinct): distinct == total
        (1.0 - F.col("n_bigrams") / F.col("n_bigrams")).alias("dup_bigram_frac"),
        (F.lit(1) / F.col("n_bigrams")).alias("top_bigram_frac"),
    )


#: Gopher rule 5 (Rae et al. 2021, MassiveText): required English stop
#: words — a document must contain at least 2 of these
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher/MassiveText document-quality rules (Rae et al. 2021 §A1.1)
    as pure column expressions: word-count bounds, mean word length in
    [3, 10], symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥ 80% of words
    containing an alphabetic character, and ≥ 2 required stop words.

    Output: per-doc signal columns + the composite ``keep`` flag.  One
    scan, no shuffle, no UDFs — at 100 TB this is the first pass of the
    curation funnel and runs at parquet-scan speed with only
    (id, text) read.
    """
    norm = textprep.normalize(F.col(text_col))
    tok = textprep.tokens(F.col(text_col))
    n_words = F.size(tok).cast("double")
    n_chars = F.length(norm).cast("double")
    # single-space normalization => sum(len(word)) = n_chars - (n_words-1)
    mean_wl = (n_chars - n_words + 1) / n_words
    n_hash = n_chars - F.length(F.regexp_replace(norm, "#", ""))
    n_ellipsis = (
        n_chars - F.length(F.regexp_replace(norm, r"\.\.\.", ""))
    ) / F.lit(3.0)
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    alpha_frac = F.size(F.filter(tok, lambda w: w.rlike("[a-z]"))) / n_words
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            lambda w: F.array_contains(tok, w),
        )
    )
    feats = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("stop_hits") >= 2)
    )
    return feats.select(
        id_col, "n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "stop_hits", keep.alias("keep"),
    )


#: PII patterns portable across Java regex (Spark) and RE2 (DuckDB):
#: character classes + bounded repetition only — no lookaround, no \b
#: corner semantics in the replacement path
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+?[0-9][0-9() -]{6,}[0-9]",
}


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone-like digit runs, keeping
    per-kind match counts: (id, scrubbed, n_email, n_ipv4, n_phone).

    Patterns apply in dict order (email first so its digits can't be
    re-matched as phones); each is replaced by ``<KIND>``.  Pure
    ``regexp_replace`` / ``regexp_extract_all`` column expressions —
    the standard pre-training PII pass runs exactly like this shape at
    scale (the production difference is bigger pattern lists and an NER
    model for names, which would be a Pandas-UDF stage downstream).
    """
    scrubbed = textprep.normalize(F.col(text_col))
    counts = []
    for kind, pat in PII_PATTERNS.items():
        # count against the partially-scrubbed text so each count equals
        # the number of <KIND> tags this pass inserts (an email's digits
        # are never also counted as a phone)
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return df.select(F.col(id_col), scrubbed.alias("scrubbed"), *counts)


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    low: float = 0.3,
    high: float = 0.95,
) -> DataFrame:
    """Per-document zlib compression ratio — the deflate-redundancy
    quality signal used by large-corpus curation stacks (e.g. the
    RedPajama-v2 quality annotations' ``ccnet_*`` companions): highly
    repetitive machine text compresses far below natural prose, and
    near-random noise barely compresses at all. Flags docs outside
    ``[low, high]`` for the filter step.

    Returns (id, n_bytes, ratio, keep). Runs as an Arrow-batched scalar
    pandas UDF (deflate has no Catalyst builtin): one Python call per
    ~10k-row batch, CPU-bound and scan-parallel — no shuffle, constant
    memory per task, so at 100 TB it scales exactly with executor cores.
    The DuckDB differential cannot express deflate, so this is a
    rows-only catalog entry; exact values are pinned by unit tests
    computing zlib in-process (tests/test_pipeline.py).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t: str) -> float:
            raw = (t or "").encode("utf-8")
            if not raw:
                return 0.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    n_bytes = F.octet_length(F.col(text_col)).cast("long")
    ratio = _ratio(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_bytes.alias("n_bytes"),
        ratio.alias("ratio"),
        ((ratio >= F.lit(float(low))) & (ratio <= F.lit(float(high)))).alias(
            "keep"
        ),
    )


def compressibility(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document compressibility PROXY from token statistics — the
    oracle-able twin of :func:`compression_ratio` (whose zlib deflate has
    no SQL equivalent, so it stays a non-catalog operator behind its unit
    test). Shannon's source-coding bound says an order-0 coder cannot
    beat ``entropy`` bits/token, so per-token unigram entropy tracks the
    same redundancy signal deflate exploits: boilerplate/repetitive
    machine text scores low, diverse prose high.

    Returns ``(doc_id, n_tokens, n_distinct, distinct_ratio, entropy)``
    for every document with at least one non-empty normalized token
    (docs whose normalized text is empty produce no token rows on either
    engine and are excluded by construction).

    Scale shape: explode → two hash aggregations, both partial-combined
    map-side; keyed by (doc, token) then doc, so partitions stay bounded
    by document size, never corpus size — no window, no join, no UDF.
    """
    tok = textprep.tokens(F.col(text_col))
    counts = (
        df.select(F.col(id_col), F.explode(tok).alias("token"))
        .where(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c")
    agg = counts.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.count(F.lit(1)) / n).alias("distinct_ratio"),
        (F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n).alias("entropy"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.col("distinct_ratio").alias("distinct_ratio"),
        F.col("entropy").alias("entropy"),
    )


def vocab_count(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    top_n: int | None = None,
) -> DataFrame:
    """Corpus-wide word-frequency table — the first pass of BPE/WordPiece
    vocabulary induction and the standard corpus-statistics probe.
    Returns (token, count [, rank]) over normalized whitespace tokens,
    filtered to ``count >= min_count``; with ``top_n`` the table is cut
    to the N most frequent (ties broken by token for determinism).

    Scale shape: explode + groupBy(token) — partial aggregation combines
    each task's local counts before the shuffle, so the shuffle carries
    one row per DISTINCT token per task (Zipf makes this tiny relative
    to the corpus); the top-N cut is a TakeOrdered over the aggregated
    counts, never a global sort of the corpus.
    """
    toks = (
        df.select(
            F.explode(
                F.split(textprep.normalize(F.col(text_col)), " ")
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .filter(F.col("count") >= F.lit(int(min_count)))
    )
    if top_n is not None:
        from pyspark.sql import Window

        # TakeOrderedAndProject first (distributed partial top-N per
        # partition, then a bounded merge) — a global rank window over
        # ALL distinct tokens would single-partition-sort billions of
        # rows at web scale. The row_number runs over the already-cut
        # top_n rows only.
        toks = toks.orderBy(F.desc("count"), F.asc("token")).limit(int(top_n))
        w = Window.orderBy(F.desc("count"), F.asc("token"))
        toks = toks.withColumn("rank", F.row_number().over(w).cast("long"))
    return toks


#: above this vocab size the bigram count table stops being broadcast:
#: its row bound is min(corpus bigrams, (V+2)²), so V=2048 already allows
#: ~4.2M rows (~hundreds of MB serialized) — past that a single knob turn
#: would silently ship a multi-GB table to every executor and the driver.
#: The unigram/context tables stay broadcast at any V (O(V) rows).
MAX_BROADCAST_VOCAB = 2048

#: row bound above which a DATA-DEPENDENT token/word-type table stops
#: being broadcast-hinted (kl_divergence's corpus unigram table,
#: bpe_token_counts' word-type table).  Unlike ``MAX_BROADCAST_VOCAB``
#: there is no knob that bounds these — at web scale the distinct-token
#: space (typos, IDs, URLs) is billions of rows, so the hint is decided
#: by a bounded count (``cache.within_bound``) instead of assumed from
#: Zipf.  1M rows of (token, count) ≈ tens of MB serialized — the
#: practical ceiling for shipping a table to every executor.  Above it
#: the join is left unhinted: AQE promotes it back to broadcast at
#: runtime iff the actual bytes fit ``autoBroadcastJoinThreshold``.
MAX_BROADCAST_TOKEN_ROWS = 1_000_000


def _broadcast_if_bounded(df: DataFrame, kind: str):
    """Broadcast-hint ``df`` only when its row count is at most
    ``MAX_BROADCAST_TOKEN_ROWS``; otherwise return it unhinted (shuffle
    join, or AQE-promoted broadcast if runtime stats fit)."""
    from time_series_db_spark.cache import within_bound

    bounded = within_bound(df, MAX_BROADCAST_TOKEN_ROWS, kind)
    return F.broadcast(df) if bounded else df


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keyword terms — the classic
    document-characterization pass (routing docs to domain buckets,
    labeling dedup clusters, seeding retrieval indexes).  Score is
    ``tf · (ln((N+1)/(df+1)) + 1)`` (smoothed idf, sklearn's
    formulation); ties break on the term for determinism — equal
    ``(tf, df)`` pairs produce bit-identical scores on every engine, so
    rank order is differentially pinned without pinning ``ln`` itself.

    Returns ``(id, term, tf, score, rank)``, rank 1..k per document.

    Scale shape: ONE corpus scan explodes to (doc, token); both count
    tables partial-aggregate before their shuffles; the corpus size is
    a 1-row broadcast total; the document-frequency table joins back
    probe-gated (``MAX_BROADCAST_TOKEN_ROWS`` — at web scale distinct
    tokens are billions of rows, so the hint must be earned, not
    assumed); the top-k is a per-doc WindowGroupLimit over the already
    tf-collapsed rows, never a global sort.
    """
    if k <= 0:
        raise ValueError("tfidf_terms needs k > 0")
    from pyspark.sql import Window

    toks = (
        df.select(
            F.col(id_col),
            F.explode(textprep.tokens(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    # tf feeds BOTH the document-frequency table and the scoring join;
    # the recompute is DELIBERATE: a persist here measured 1.6× slower
    # (0.69 → 1.13 s at sf0.1) — materializing the (doc, term) table
    # costs more than re-running the fully pipelined explode+partial-agg,
    # and at scale the trade is a wash (extra corpus pass vs a
    # corpus-sized cache write+read), unlike the fleet/ACF cases where
    # the re-referenced table is fleet-sized and the persist is free.
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    scored = (
        tf.join(_broadcast_if_bounded(dfreq, "tfidf_dfreq"), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                F.log(
                    (F.col("__n") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(id_col, "term", "tf", "score", "rank")
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 200,
    lam: float = 0.9,
    broadcast_bigrams: bool | None = None,
) -> DataFrame:
    """Per-document perplexity under a corpus-trained bigram language
    model — the CCNet-style LM quality signal (Wenzek et al. 2019,
    arXiv:1911.00359, which scores documents by KenLM perplexity and
    keeps the low-perplexity head). A 5-gram KenLM needs an external
    model file; the in-engine analog trains an interpolated bigram LM on
    the corpus itself and scores each document under it:

        p(w | v) = lam * c(v,w)/c(v) + (1-lam) * c(w)/T
        ppl(doc) = exp(-mean(ln p(w_i | w_{i-1})))

    with a per-document ``<s>`` start context, tokens outside the
    ``vocab_size`` most frequent (count-desc, token-asc tie-break)
    mapped to ``<unk>`` BEFORE counting, and T = total scored tokens.
    Because the model is trained on the scoring corpus, every scored
    bigram has c(v,w) >= 1, so no extra smoothing is needed and
    p >= (1-lam)/T > 0. Boilerplate/repetitive text scores near 1;
    token soup scores high — the same ordering KenLM induces.

    Returns (id, n_tokens, perplexity); empty documents have no tokens
    and drop out (absent-row semantics).

    Scale shape: the vocabulary cut is a TakeOrdered over the
    partial-aggregated token counts (never a global sort of the corpus);
    the OOV-mapped alphabet is bounded by ``vocab_size``+2, so the
    unigram/context/bigram count tables are bounded Zipf-sparse
    metadata — all three broadcast to the scoring join exactly as CCNet
    ships its KenLM model to every worker. The only corpus-sized
    shuffles are the per-document lag window and the final per-document
    aggregate, both partitioned by document id.

    The bigram table's bound is QUADRATIC in the vocabulary
    ((V+2)² worst case), so its broadcast is guarded: above
    ``MAX_BROADCAST_VOCAB`` (or with ``broadcast_bigrams=False``) the
    scoring join shuffles on (v, w) instead — an equi-join both sides
    hash-partition cleanly on — rather than letting one knob turn
    silently produce a multi-GB broadcast. The O(V) unigram/context
    tables broadcast at any size.
    """
    from pyspark.sql import Window

    from time_series_db_spark.cache import persist_tracked

    toks = (
        df.select(
            F.col(id_col),
            F.posexplode(textprep.tokens(F.col(text_col))).alias(
                "pos", "token"
            ),
        )
        .filter(F.col("token") != "")
    )
    # pinned: the vocabulary cut is a corpus aggregation that otherwise
    # re-runs inside EVERY consumer of the mapped stream (r14 audit:
    # five corpus-side executions per action)
    vocab = persist_tracked(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.desc("__cnt"), F.asc("token"))
        .limit(int(vocab_size))
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    mapped = toks.join(F.broadcast(vocab), "token", "left").select(
        F.col(id_col),
        F.col("pos"),
        F.when(F.col("__in_vocab"), F.col("token"))
        .otherwise(F.lit("<unk>"))
        .alias("w"),
    )
    seq = Window.partitionBy(id_col).orderBy("pos")
    big = mapped.withColumn(
        "v", F.coalesce(F.lag("w").over(seq), F.lit("<s>"))
    ).select(id_col, "v", "w")

    # ONE corpus pass builds the bigram table; the unigram, context and
    # total tables are its exact marginals (integer-valued counts below
    # 2^53, so the double sums are exact: c_w = Σ_v c_vw, c_v = Σ_w
    # c_vw, T = Σ c_vw — identical values to counting `big` directly).
    # Previously each of the four model tables re-executed the full
    # corpus pipeline (scan + explode + vocab join + lag window); now
    # the corpus is touched twice per action (model build + scoring),
    # and the pinned bigram table is (V+2)²-bounded metadata.
    bi = persist_tracked(
        big.groupBy("v", "w").agg(
            F.count(F.lit(1)).cast("double").alias("c_vw")
        )
    )
    uni = bi.groupBy("w").agg(F.sum("c_vw").alias("c_w"))
    ctx = bi.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    tot = bi.agg(F.sum("c_vw").alias("t_n"))

    l1, l2 = float(lam), 1.0 - float(lam)
    logp = F.log(
        (F.lit(l1) * (F.col("c_vw") / F.col("c_v")))
        + (F.lit(l2) * (F.col("c_w") / F.col("t_n")))
    )
    if broadcast_bigrams is None:
        broadcast_bigrams = int(vocab_size) <= MAX_BROADCAST_VOCAB
    bi_side = F.broadcast(bi) if broadcast_bigrams else bi
    scored = (
        big.join(bi_side, ["v", "w"])
        .join(F.broadcast(ctx), "v")
        .join(F.broadcast(uni), "w")
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), logp.alias("__logp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.exp(-F.avg("__logp")).alias("perplexity"),
    )


def ppl_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 200,
    lam: float = 0.9,
    score_round=None,
    broadcast_bigrams: bool | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (arXiv:1911.00359 §4.3):
    per-language perplexity tertiles — the "head" (lowest-perplexity
    third) is the highest-quality slice a curation run keeps or
    up-samples. Composes :func:`lm_perplexity` with :func:`lang_id`,
    computes the two tertile thresholds per predicted language with the
    exact interpolated percentile, and assigns each document by
    comparison. Returns (id, pred_lang, perplexity, bucket).

    ``score_round`` (optional) rounds scores before thresholding —
    the differential gate passes its quantizer so Spark and the SQL
    oracle compare identical doubles; production runs leave it None.

    Scale shape: this is CCNet's own threshold design — tertiles are
    computed as a per-language aggregate (one row per language,
    metadata-sized) and broadcast back for the bucket comparison, so
    there is NO per-language global sort of the corpus (an ntile window
    would be one); the corpus-sized work is the lm_perplexity pass plus
    one broadcast join.
    """
    score = lm_perplexity(
        df, id_col, text_col, vocab_size, lam,
        broadcast_bigrams=broadcast_bigrams,
    )
    langs = lang_id(df, id_col, text_col)
    j = score.join(langs.select(id_col, "pred_lang"), id_col)
    ppl = F.col("perplexity")
    if score_round is not None:
        ppl = score_round(ppl)
    j = j.select(F.col(id_col), F.col("pred_lang"), ppl.alias("__ppl"))
    third = repr(1.0 / 3.0)
    two_thirds = repr(2.0 / 3.0)
    th = j.groupBy("pred_lang").agg(
        F.expr(f"percentile(__ppl, {third})").alias("__t1"),
        F.expr(f"percentile(__ppl, {two_thirds})").alias("__t2"),
    )
    if score_round is not None:
        th = th.select(
            "pred_lang",
            score_round(F.col("__t1")).alias("__t1"),
            score_round(F.col("__t2")).alias("__t2"),
        )
    return j.join(F.broadcast(th), "pred_lang").select(
        F.col(id_col),
        F.col("pred_lang"),
        F.col("__ppl").alias("perplexity"),
        F.when(F.col("__ppl") <= F.col("__t1"), F.lit("head"))
        .when(F.col("__ppl") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise-mutual-information phrase mining: every adjacent token
    pair seen at least ``min_count`` times, scored with
    ``pmi = ln(c_xy * N / (c_x * c_y))`` over corpus-wide counts — the
    classic collocation signal (Church & Hanks 1990) used to decide
    which bigrams merge into phrase tokens before vocabulary induction.

    Returns (w1, w2, c_xy, pmi).  The count filter is integer-exact and
    the score is a single double division + ln over exact BIGINT
    products, so the DuckDB oracle matches bit-for-bit (the catalog
    entry additionally quantizes the score).

    Scale shape: bigrams come from zipping each token array with its
    own tail — no per-document window, no shuffle before the counting
    aggregations; both count tables partial-aggregate map-side, the
    unigram table is vocab-bounded and broadcast to the scoring join,
    and the corpus total is a 1-row broadcast.  Nothing is ever sorted
    globally.
    """
    if min_count < 1:
        raise ValueError("min_count must be at least 1")
    toks = df.select(
        F.split(textprep.normalize(F.col(text_col)), " ").alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    # the broadcast side prunes losslessly: a bigram surviving
    # count >= min_count implies BOTH its tokens have unigram count >=
    # min_count, so the shipped table is bounded by corpus_tokens /
    # min_count (the Zipf long tail of hapaxes never ships); N above
    # was summed over ALL tokens first
    uni = uni.filter(F.col("c") >= F.lit(int(min_count)))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    bc = (
        pairs.filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= F.lit(int(min_count)))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
    return (
        bc.crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            "c_xy",
            F.log(
                (F.col("c_xy") * F.col("n")).cast("double")
                / (F.col("__c1") * F.col("__c2")).cast("double")
            ).alias("pmi"),
        )
    )


def kl_divergence(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """Per-document KL divergence of the doc's unigram distribution from
    the corpus unigram distribution — the "how unusual is this
    document" signal data-selection pipelines threshold on (high KL =
    off-distribution boilerplate/noise, near-zero KL = corpus-typical):
    ``KL(doc ‖ corpus) = Σ_t p_doc(t) · ln(p_doc(t) / p_corpus(t))``.
    Every doc token exists in the corpus distribution by construction,
    so no smoothing is needed and KL ≥ 0 exactly.  Output:
    ``(id_col, kl)``.

    100 TB shape: (doc, token) counts are ONE partial-aggregated
    shuffle; the corpus distribution is the distinct-token count table
    joined back with the 1-row total broadcast; doc lengths ride a
    window over the already-grouped counts — no second corpus scan.
    The token table broadcasts ONLY when a bounded probe proves it ≤
    ``MAX_BROADCAST_TOKEN_ROWS`` (``broadcast_vocab=None``, the
    default) — at web scale the distinct-token space is billions of
    rows and Zipf alone must not be trusted to bound a broadcast; pass
    ``broadcast_vocab=True/False`` to override.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(textprep.tokens(F.col(text_col))).alias("__t"),
    ).filter(F.col("__t") != "")
    dc = toks.groupBy(id_col, "__t").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    from time_series_db_spark.cache import persist_tracked

    dc = persist_tracked(dc)
    cc = dc.groupBy("__t").agg(F.sum("__c").alias("__cc"))
    total = cc.agg(F.sum("__cc").alias("__tot"))
    if broadcast_vocab is None:
        cc_j = _broadcast_if_bounded(cc, "kl_vocab_rows")
    else:
        cc_j = F.broadcast(cc) if broadcast_vocab else cc
    from pyspark.sql import Window

    dl = F.sum("__c").over(Window.partitionBy(id_col))
    return (
        dc.withColumn("__l", dl)
        .join(cc_j, "__t")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum(
                (F.col("__c") / F.col("__l"))
                * F.log(
                    (F.col("__c") / F.col("__l"))
                    / (F.col("__cc") / F.col("__tot"))
                )
            ).alias("kl")
        )
    )


def source_stats(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus audit — the curation dashboard every web-scale
    pipeline runs before mixing: for each ``source_col`` (domain, crawl,
    subcorpus) the document count, exact-duplicate count (docs minus
    distinct normalized texts WITHIN the source), token volume, and
    mean quality score.  Output: ``(source, n_docs, n_dupes,
    total_tokens, mean_quality)``.

    100 TB shape: quality features are map-side row expressions riding
    the ONE corpus scan (``keep_cols`` threads the source through
    :func:`quality_score` — no join back); the whole audit is a single
    partial-aggregated groupBy on the source key.  Mean quality sums
    exact decimals over per-doc QUANTIZED scores so the audit is
    engine-portable; dedup counting is ``count_distinct`` on the
    normalized text (per-source, map-side partial).
    """
    pre = docs.select(
        F.col(id_col),
        F.col(source_col).alias("__src"),
        F.col(text_col),
        textprep.normalize(F.col(text_col)).alias("__norm"),
    )
    base = quality_score(pre, id_col, text_col, keep_cols=("__src", "__norm"))
    qq = F.floor(F.col("quality") * 10000.0 + F.lit(0.5)) / F.lit(10000)
    return (
        base.groupBy(F.col("__src").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.count(F.lit(1)) - F.count_distinct("__norm"))
            .cast("long").alias("n_dupes"),
            F.sum(F.col("n_tokens").cast("long")).cast("long")
            .alias("total_tokens"),
            (
                F.sum(qq.cast("decimal(27,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_quality"),
        )
    )


def distribution_psi(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots over a
    numeric column — THE standard distribution-drift monitor (credit
    scoring's PSI applied to data pipelines: run it on doc length,
    quality score, or token count when a new crawl lands; PSI < 0.1 is
    stable, 0.1–0.25 drifting, > 0.25 shifted).  Buckets are the OLD
    snapshot's ``n_buckets``-quantile bins (the reference
    distribution), shares are Laplace-smoothed ``(c + 0.5) /
    (N + 0.5·B)`` so an empty bucket cannot produce ``ln 0``.  Returns
    one row per bucket: ``(bucket, n_old, n_new, p_old, p_new,
    psi_term)`` with ``psi_term = (p_new − p_old)·ln(p_new/p_old)`` —
    callers sum for the index, and the per-bucket terms localize WHERE
    the distribution moved.

    Differential pinning: bucket boundaries come from the old
    snapshot's interpolated percentiles and are quantized to the 1e-4
    grid BEFORE any comparison (the detect_season argmax discipline) —
    a boundary that differs by an ulp between engines would otherwise
    flip bucket counts discretely.  Values are bucketed by
    ``count(quantized boundaries ≤ value)``.

    100 TB shape: boundaries are ONE percentile aggregate over the old
    snapshot (a 1-row array, broadcast); each snapshot then pays one
    scan with a pure row expression bucket assignment and one
    partial-aggregated groupBy(bucket); everything downstream is
    ``n_buckets`` rows.
    """
    if n_buckets < 2:
        raise ValueError("distribution_psi needs n_buckets >= 2")
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = old.agg(
        F.expr(
            f"percentile({value_col}, "
            f"array({', '.join(map(str, fracs))}))"
        ).alias("__b")
    ).select(
        F.transform(
            "__b",
            lambda b: F.floor(b * F.lit(10000.0) + F.lit(0.5))
            / F.lit(10000.0),
        ).alias("__bounds")
    )

    def bucketed(df: DataFrame, cname: str) -> DataFrame:
        b = df.crossJoin(F.broadcast(bounds)).select(
            F.filter(
                F.col("__bounds"),
                lambda x: x <= F.col(value_col).cast("double"),
            ).alias("__le")
        )
        return (
            b.select(F.size("__le").cast("long").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias(cname))
        )

    base = old.sparkSession.range(0, n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    co = bucketed(old, "n_old")
    cn = bucketed(new, "n_new")
    joined = (
        base.join(co, "bucket", "left")
        .join(cn, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    smooth = F.lit(0.5)
    denom_pad = F.lit(0.5 * n_buckets)
    out = joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_old",
        "n_new",
        ((F.col("n_old") + smooth) / (F.col("__to") + denom_pad)).alias(
            "p_old"
        ),
        ((F.col("n_new") + smooth) / (F.col("__tn") + denom_pad)).alias(
            "p_new"
        ),
    )
    return out.withColumn(
        "psi_term",
        (F.col("p_new") - F.col("p_old"))
        * F.log(F.col("p_new") / F.col("p_old")),
    )


def categorical_psi(
    old: DataFrame,
    new: DataFrame,
    cat_col: str,
) -> DataFrame:
    """:func:`distribution_psi` for CATEGORICAL columns — the monitor
    run over language / source / domain shares when a new crawl lands.
    The buckets are the column's values themselves (the union of both
    snapshots' categories, so a category that appears or vanishes
    still produces a row with one side at zero), shares are
    Laplace-smoothed ``(c + 0.5) / (N + 0.5·B)`` with ``B`` the union
    category count — an absent category cannot produce ``ln 0``, and
    a brand-new one shows up as a large positive ``psi_term`` instead
    of an error.  Returns one row per category: ``(category, n_old,
    n_new, p_old, p_new, psi_term)`` — callers sum ``psi_term`` for
    the index; the per-category terms localize WHICH share moved.
    NULL categories count under the ``<null>`` sentinel (a new crawl
    suddenly missing metadata is exactly the drift to surface).

    Differential pinning: every operand is an integer count until the
    single share division, so both engines compute identical doubles —
    no quantile boundaries to quantize (the numeric version's only
    engine-sensitive step).

    100 TB shape: each snapshot pays ONE partial-aggregated
    groupBy(category) scan collapsing to category-cardinality rows;
    the full-outer join and the 1-row totals broadcast are
    metadata-sized.
    """
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("<null>"))

    def counted(df: DataFrame, cname: str) -> DataFrame:
        return (
            df.select(cat.alias("category"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).cast("long").alias(cname))
        )

    joined = (
        counted(old, "n_old")
        .join(counted(new, "n_new"), "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum("n_old").alias("__to"),
        F.sum("n_new").alias("__tn"),
        F.count(F.lit(1)).cast("long").alias("__b"),
    )
    out = joined.crossJoin(F.broadcast(tot)).select(
        "category",
        "n_old",
        "n_new",
        (
            (F.col("n_old") + F.lit(0.5))
            / (F.col("__to") + F.lit(0.5) * F.col("__b"))
        ).alias("p_old"),
        (
            (F.col("n_new") + F.lit(0.5))
            / (F.col("__tn") + F.lit(0.5) * F.col("__b"))
        ).alias("p_new"),
    )
    return out.withColumn(
        "psi_term",
        (F.col("p_new") - F.col("p_old"))
        * F.log(F.col("p_new") / F.col("p_old")),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-relative novelty score: per document, the fraction of its
    DISTINCT word ``n``-grams that occur in no other document — the
    diversity signal completing the repetition family
    (:func:`repetition_stats` measures duplication INSIDE a document,
    :func:`dedup.boilerplate_span_removal` cuts text shared by MANY
    documents; this ranks documents by how much of their content is
    theirs alone, the standard knob for diversity-weighted sampling and
    near-template triage).  Returns ``(id, n_grams, n_unique,
    novelty)`` with ``novelty = n_unique / n_grams`` — 1.0 is fully
    novel, near-0 is assembled from corpus-common phrasing.

    Scale shape: shingling is scan-side; prevalence is one
    partial-aggregated groupBy on the gram hash over ALREADY-distinct
    (doc, gram) rows (so a hot phrase combines map-side), the flag
    join back is an AQE-skew-splittable equi join, and the per-doc
    ratio is a second partial agg.  Gram identity hashes the gram
    STRING (A/B-measured: the MinHash-style per-token polynomial fold
    is 2.5× SLOWER here — the nested higher-order fold falls out of
    whole-stage codegen under the explode generator, while the
    per-gram md5 stays codegen'd; minhash avoids that by never
    exploding its shingles).  ``hash_fn="md5"`` stays oracle-portable;
    the differential oracle counts on the gram STRING so a hash
    collision surfaces as a mismatch.
    """
    k = int(n)
    if k <= 0:
        raise ValueError(f"n must be positive, got {n}")
    # spread the raw docs before the hash-heavy explode: a compact
    # parquet corpus arrives as 1-2 splits, serializing all gram
    # hashing on one core (the cosine_topk lesson; A/B-measured 9.8 s
    # → 1.1 s at sf0.1); gated on the input split count so a
    # well-split large scan skips the shuffle entirely
    df = textprep.rebalance_if_narrow(df)
    grams = textprep.word_shingles(textprep.tokens(F.col(text_col)), k)
    ex = df.select(F.col(id_col), F.explode(grams).alias("__g")).withColumn(
        "__h", textprep.hash64(F.col("__g"), "nov", fn=hash_fn)
    )
    prev = ex.groupBy("__h").agg(
        F.count(F.lit(1)).cast("long").alias("__n_docs")
    )
    return (
        ex.join(prev, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__n_docs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            id_col,
            "n_grams",
            "n_unique",
            (F.col("n_unique") / F.col("n_grams")).alias("novelty"),
        )
    )
