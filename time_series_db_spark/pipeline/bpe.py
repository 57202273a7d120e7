"""Distributed BPE vocabulary induction (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The trainer operates on the WORD-FREQUENCY table, not the corpus: BPE
merge statistics depend only on distinct word types and their counts,
so a 100 TB corpus first collapses to a vocabulary-bounded ``(word,
freq)`` table (one partial-aggregated shuffle — the same reduction the
reference-class trainers make) and every merge round then runs on that
small table.  Each round is the k-means shape: a distributed pair-count
aggregation, a ONE-ROW driver collect of the argmax pair (metadata-
sized, like the Lloyd centroid fetch in pipeline/ann.py), and a pure
column-expression rewrite of the symbol sequences.

Symbol sequences are encoded as space-joined strings with a leading and
trailing space (`` h e l l o ``), and a merge of pair ``(a, b)`` is the
literal replace ``" a b " → " ab "``.  Both Spark's ``replace`` and
DuckDB's ``replace`` scan left-to-right non-overlapping with identical
semantics, so the DuckDB oracle replays training exactly.  Documented
deviation from strict greedy BPE: in a chain like ``b b b b`` the
shared-boundary space blocks every second occurrence within one round
(it merges in a later round instead, and is still counted) — the
variant is fully deterministic and engine-portable, which is what the
differential gate needs; classic trainers differ between themselves on
exactly these chain cases too.

No end-of-word marker is appended (the ``</w>`` of the original paper)
— token counts treat word boundaries as implicit, which only shifts the
vocabulary's surface forms, not the algorithm shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from time_series_db_spark.pipeline import textprep


def _word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(F.explode(textprep.tokens(F.col(text_col))).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
    )


def _initial_seq() -> F.Column:
    # " h e l l o " — each code point its own symbol, space-bounded
    return F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("__w"), "(.)", "$1 ")),
        F.lit(" "),
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    # bind the token split once per row (textprep.bind_once): ``__seq``
    # carries the round's stacked replace chain, and an unbound lambda
    # reference would re-run that chain + split per PAIR element —
    # O(symbols²·merges) per word instead of O(symbols) (r13
    # optimization, the interpreted-HOF re-evaluation family)
    def body(toks: F.Column) -> F.Column:
        pairs = F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(
                F.element_at(toks, i + 1), F.lit(" "), F.element_at(toks, i + 2)
            ),
        )
        return F.when(F.size(toks) >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        )

    guarded = textprep.bind_once(F.split(F.trim(F.col("__seq")), " "), body)
    return (
        wf.select(F.col("__f"), F.explode(guarded).alias("__pair"))
        .groupBy("__pair")
        .agg(F.sum("__f").cast("long").alias("__cnt"))
    )


#: merge rounds between lineage truncations of the word table.  Each
#: merge stacks one ``F.replace`` onto the ``__seq`` projection; without
#: truncation a realistic 32k-merge vocabulary would build a 32k-deep
#: expression tree that the analyzer cannot process.  Checkpointing
#: every K rounds (the ``cc_survivors`` pattern, pipeline/dedup.py)
#: keeps plan depth ≤ K regardless of ``n_merges`` — the word table is
#: vocabulary-bounded, so the materialization is metadata-sized.
_CHECKPOINT_EVERY = 16


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over ``docs``.

    Returns ``(merges, word_table)`` — ``merges`` is the ordered list
    ``(rank, left, right, freq)`` (the model; tiny), ``word_table`` the
    final ``(__w, __f, __seq)`` frame with every merge applied (feeds
    :func:`bpe_token_counts`).  Stops early if the corpus runs out of
    pairs.  Plan depth stays bounded at any ``n_merges``: the word
    table is localCheckpoint'ed every ``_CHECKPOINT_EVERY`` rounds.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    from time_series_db_spark.cache import bounded_rows, persist_tracked

    wf = persist_tracked(
        _word_freq(docs, text_col).withColumn("__seq", _initial_seq())
    )
    rows = bounded_rows(wf.select("__f", "__seq"), _DRIVER_TRAIN_MAX_WORDS)
    if rows is not None:
        # coordinator path: the returned word table is the same
        # stacked-replace plan over the same cache the distributed loop
        # would have built
        merges = _train_rounds_local(
            [(int(r["__f"]), r["__seq"]) for r in rows], n_merges
        )
        for i, (_rank, left, right, _freq) in enumerate(merges):
            wf = _apply_merge(wf, i, left, right)
        return merges, wf
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(wf)
            .orderBy(F.col("__cnt").desc(), F.col("__pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["__pair"].split(" ")
        merges.append((rank, left, right, int(top[0]["__cnt"])))
        wf = _apply_merge(wf, rank, left, right)
    return merges, wf


def _apply_merge(seq: DataFrame, i: int, left: str, right: str):
    """Apply merge number ``i`` (the literal space-bounded replace) to
    ``__seq``, truncating lineage every ``_CHECKPOINT_EVERY`` merges."""
    seq = seq.withColumn(
        "__seq",
        F.replace(
            F.col("__seq"),
            F.lit(f" {left} {right} "),
            F.lit(f" {left}{right} "),
        ),
    )
    if (i + 1) % _CHECKPOINT_EVERY == 0:
        seq = seq.localCheckpoint(eager=True)
    return seq


#: word-type bound for COORDINATOR-side training: when the word-frequency
#: table has at most this many rows (``cache.bounded_rows``), the merge
#: loop runs on the driver over the collected ``(freq, seq)`` pairs —
#: the reference-class trainer shape (word counts in coordinator memory)
#: — instead of paying 2 Spark jobs per merge round for a table that is
#: often a few thousand rows.  ≤ ~50 MB of driver strings at the bound.
#: Larger vocabularies keep the distributed loop unchanged;
#: both paths run the IDENTICAL algorithm (same replace semantics, same
#: (count DESC, pair ASC) tie-break), so the choice is invisible in the
#: result — the DuckDB oracle replays training either way.
_DRIVER_TRAIN_MAX_WORDS = 262_144


def _train_rounds_local(
    seqs: list[tuple[int, str]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The merge loop over collected ``(freq, seq)`` rows — a faithful
    transcription of the distributed loop: pair extraction mirrors
    ``_pair_counts`` (trim + single-space split, adjacent pairs), the
    argmax tie-breaks (count DESC, pair ASC) like the ``orderBy``
    (Python code-point ordering == Spark UTF8 binary ordering), and the
    merge is the same literal space-bounded non-overlapping
    left-to-right replace (`str.replace` == Spark/DuckDB `replace`)."""
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[str, int] = {}
        for f, s in seqs:
            toks = s.strip(" ").split(" ")
            for i in range(len(toks) - 1):
                p = toks[i] + " " + toks[i + 1]
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ")
        merges.append((rank, left, right, int(cnt)))
        old, new = f" {left} {right} ", f" {left}{right} "
        seqs = [(f, s.replace(old, new)) for f, s in seqs]
    return merges


#: a trained BPE model: the ordered merge list plus the trained word
#: table — exactly what :func:`bpe_train` returns.
BpeModel = tuple[list[tuple[int, str, str, int]], DataFrame]


def bpe_segment_words(words: DataFrame, merges) -> DataFrame:
    """Segment a ``(__w, ...)`` word table under a trained merge list —
    the replay path for words the training corpus never saw (OOV).
    Replays each merge in rank order as the same literal space-bounded
    replace the trainer used, so a word that DID occur in training
    segments identically by determinism (training is itself this replay
    applied to the training words).  Adds a ``__seq`` column; plan
    depth stays bounded via the trainer's checkpoint cadence."""
    seq = words.withColumn("__seq", _initial_seq())
    for i, (_rank, left, right, _freq) in enumerate(merges):
        seq = _apply_merge(seq, i, left, right)
    return seq


def bpe_apply(
    model: BpeModel, docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Segment ``docs``' distinct words under a PRE-TRAINED model — the
    fit/apply split (train ONCE on corpus A, apply to corpus B and
    every later batch without retraining; the ``pca_fit`` /
    ``pca_transform`` shape from pipeline/ann.py).  Words seen in
    training reuse the trained word table's cached segmentation (one
    join, no recompute); out-of-vocabulary words replay the merge list
    (:func:`bpe_segment_words`) — deterministic, so a seen word would
    segment identically on either path.  Returns ``(__w, __seq)``.

    100 TB shape: the apply corpus collapses to its distinct-word table
    first (one partial-aggregated shuffle, same reduction the trainer
    makes), so the merge replay runs over word TYPES, never corpus
    rows; the trained table joins once.  No ``bpe_train`` is invoked.
    """
    merges, word_table = model
    words = (
        docs.select(F.explode(textprep.tokens(F.col(text_col))).alias("__w"))
        .filter(F.col("__w") != "")
        .distinct()
    )
    trained = word_table.select("__w", "__seq")
    seen = words.join(trained, "__w")
    oov = words.join(trained.select("__w"), "__w", "left_anti")
    return seen.unionByName(bpe_segment_words(oov, merges))


def bpe_oov_rate(
    docs: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Out-of-vocabulary rate of a FROZEN tokenizer on a new corpus,
    per ``group_col``: the fraction of word tokens the training corpus
    never saw — the coverage check run (alongside
    :func:`bpe_fertility`) before committing a trained vocabulary to a
    new data source or language mix.  OOV words still tokenize (the
    merge replay in :func:`bpe_apply` handles them), but their
    segmentation degrades toward characters, so a rising OOV rate is
    the early warning.  Returns ``(group, n_words, n_oov, oov_rate)``
    with the rate an exact ratio of integer counts.

    100 TB shape: one corpus scan exploded to word tokens, left-joined
    against the trained word-TYPE table (probe-gated broadcast — the
    same guard as every word-table join here), one partial-aggregated
    groupBy.  Only the word set matters, so the merge list is never
    replayed."""
    from time_series_db_spark.pipeline.text import _broadcast_if_bounded

    _, word_table = model
    trained = word_table.select("__w").withColumn("__seen", F.lit(1))
    words = docs.select(
        F.col(group_col).alias("group"),
        F.explode(textprep.tokens(F.col(text_col))).alias("__w"),
    ).filter(F.col("__w") != "")
    return (
        words.join(
            _broadcast_if_bounded(trained, "bpe_word_types"), "__w", "left"
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.count_if(F.col("__seen").isNull()).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_words").cast("double"),
        )
    )


def _word_seqs(
    docs: DataFrame,
    n_merges: int,
    text_col: str,
    model: BpeModel | None,
) -> DataFrame:
    """``(__w, __seq)`` for ``docs``' words: trains on ``docs`` when
    ``model`` is None (the legacy self-trained shape), else pure apply
    of the given model — no retraining."""
    if model is None:
        _, wf = bpe_train(docs, n_merges, text_col)
        return wf.select("__w", "__seq")
    return bpe_apply(model, docs, text_col)


def bpe_merges(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> DataFrame:
    """The merge table as a DataFrame: ``(merge_rank, left_sym,
    right_sym, freq)`` — the BPE model artifact (rank order IS the
    apply order)."""
    from time_series_db_spark.literals import literal_frame

    merges, _ = bpe_train(docs, n_merges, text_col)
    return literal_frame(
        docs.sparkSession,
        merges,
        "merge_rank long, left_sym string, right_sym string, freq long",
    )


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool | None = None,
    model: BpeModel | None = None,
) -> DataFrame:
    """Per-document token count under the trained BPE vocabulary:
    ``(id_col, n_tokens)``.

    ``model``: a pre-trained :func:`bpe_train` result — when given, the
    vocabulary is NOT retrained on ``docs`` (fit/apply split; OOV words
    replay the merge list via :func:`bpe_apply`); ``n_merges`` is then
    ignored.

    100 TB shape: each document's count is the sum of its words' cached
    symbol counts — one corpus scan, one join against the trained word
    table, partial-aggregated sum; the corpus text is never
    re-segmented per merge.  The word-type table broadcasts ONLY when a
    bounded probe proves it ≤ ``MAX_BROADCAST_TOKEN_ROWS``
    (``broadcast_vocab=None``, the default): at web scale the
    distinct-word space is not Zipf-bounded (IDs, URLs, typos), and an
    unconditional hint would ship a multi-GB table to every executor.
    Above the bound the join is unhinted — shuffle join, or
    AQE-promoted broadcast if runtime stats fit."""
    from time_series_db_spark.pipeline.text import (
        _broadcast_if_bounded,
    )

    wf = _word_seqs(docs, n_merges, text_col, model)
    per_word = wf.select(
        "__w",
        F.size(F.split(F.trim(F.col("__seq")), " ")).cast("long").alias("__n"),
    )
    if broadcast_vocab is None:
        per_word_j = _broadcast_if_bounded(per_word, "bpe_word_types")
    else:
        per_word_j = (
            F.broadcast(per_word) if broadcast_vocab else per_word
        )
    return (
        docs.select(
            F.col(id_col),
            F.explode(textprep.tokens(F.col(text_col))).alias("__w"),
        )
        .filter(F.col("__w") != "")
        .join(per_word_j, "__w")
        .groupBy(id_col)
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
    )


def bpe_encode(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool | None = None,
    model: BpeModel | None = None,
) -> DataFrame:
    """Tokenize each document under the trained BPE vocabulary — the
    APPLY step that turns a corpus into model-ready token streams:
    ``(id_col, pos, token)``, ``pos`` the 0-based position of the
    subword token within the document's stream (word order preserved;
    symbols within a word in sequence order).

    ``model``: a pre-trained :func:`bpe_train` result — when given, the
    vocabulary is NOT retrained on ``docs`` (the deployment shape:
    train once on corpus A, encode corpus B and every later batch
    under the frozen vocabulary; OOV words replay the merge list via
    :func:`bpe_apply`); ``n_merges`` is then ignored.

    100 TB shape: one corpus scan exploded to (doc, word-position)
    rows; the trained word table joins back (broadcast iff the bounded
    probe proves it fits — same guard as :func:`bpe_token_counts`);
    the global position is a running sum over WORD rows (one bounded
    per-doc window over words, not subword tokens) and the final
    subword explode is zero-shuffle.  The corpus text is segmented
    exactly once — per-merge re-segmentation never happens.
    """
    from pyspark.sql import Window

    from time_series_db_spark.pipeline.text import _broadcast_if_bounded

    wf = _word_seqs(docs, n_merges, text_col, model)
    per_word = wf.select(
        "__w", F.split(F.trim(F.col("__seq")), " ").alias("__syms")
    )
    if broadcast_vocab is None:
        per_word_j = _broadcast_if_bounded(per_word, "bpe_word_types")
    else:
        per_word_j = (
            F.broadcast(per_word) if broadcast_vocab else per_word
        )
    words = (
        docs.select(
            F.col(id_col),
            F.posexplode(textprep.tokens(F.col(text_col))).alias(
                "__wpos", "__w"
            ),
        )
        .filter(F.col("__w") != "")
        .join(per_word_j, "__w")
        .withColumn("__n", F.size("__syms"))
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("__wpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    based = words.withColumn(
        "__base", F.coalesce(F.sum("__n").over(w), F.lit(0))
    )
    return based.select(
        id_col,
        F.col("__base"),
        F.posexplode("__syms").alias("__spos", "token"),
    ).select(
        id_col,
        (F.col("__base") + F.col("__spos")).cast("long").alias("pos"),
        "token",
    )


def bpe_fertility(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    model: BpeModel | None = None,
) -> DataFrame:
    """Tokenizer fertility per language: subword tokens emitted per
    whitespace word under the trained BPE vocabulary — THE standard
    multilingual tokenizer-quality metric (a language whose fertility
    is 2× another's pays 2× the sequence length for the same content,
    which skews both training cost and effective context).  Returns
    ``(lang, n_docs, n_words, n_subwords, fertility)`` with fertility
    the exact ratio of integer sums (never an average of per-doc
    ratios — short docs would dominate).

    ``model``: a pre-trained :func:`bpe_train` result — when given, the
    vocabulary is NOT retrained on ``docs`` (fertility of a FROZEN
    tokenizer on a new corpus, the evaluation shape); ``n_merges`` is
    then ignored.

    100 TB shape: identical to :func:`bpe_encode` minus the position
    machinery — one corpus scan exploded to word rows, the trained
    word table joined back probe-gated, then two partial-aggregated
    groupBys (doc, then lang); counts are integers so the ratio is
    engine-exact.
    """
    from time_series_db_spark.pipeline.text import _broadcast_if_bounded

    wf = _word_seqs(docs, n_merges, text_col, model)
    per_word = wf.select(
        "__w",
        F.size(F.split(F.trim(F.col("__seq")), " ")).alias("__n"),
    )
    words = (
        docs.select(
            F.col(id_col),
            F.explode(textprep.tokens(F.col(text_col))).alias("__w"),
        )
        .filter(F.col("__w") != "")
        .join(_broadcast_if_bounded(per_word, "bpe_word_types"), "__w")
    )
    per_doc = words.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nw"),
        F.sum("__n").cast("long").alias("__ns"),
    )
    return (
        per_doc.join(docs.select(id_col, lang_col), id_col)
        .groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nw").cast("long").alias("n_words"),
            F.sum("__ns").cast("long").alias("n_subwords"),
        )
        .withColumn(
            "fertility",
            F.col("n_subwords").cast("double")
            / F.col("n_words").cast("double"),
        )
    )
