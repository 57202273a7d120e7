"""Training-batch construction: sequence packing + stratified sampling.

Beyond the reference (its engine stops at query operators): the two
assembly steps a large-scale LLM training-data pipeline runs after
filtering/dedup — packing documents into fixed-token-budget training
sequences, and drawing deterministic per-stratum samples for eval/
ablation splits. Both are pure DataFrame plans with DuckDB oracles
(catalog entries ``pack_sequences`` / ``sample_stratified``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from time_series_db_spark.literals import literal_frame
from time_series_db_spark.pipeline import textprep

#: shards for packing — the unit of window parallelism. At 100 TB this is
#: sized so one shard's documents fit a task comfortably (each shard only
#: ever sorts its own documents, never the corpus).
DEFAULT_SHARDS = 64


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = DEFAULT_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    batch layout): documents are concatenated in a deterministic order
    and the token stream is cut into fixed-``budget`` blocks; each
    document is assigned the block containing its first token.

    Order is (shard, doc_id) where ``shard = hash(doc_id) % n_shards`` —
    packing is per-shard, the standard practice for sharded corpora, so
    the only window runs per shard: no global sort, no single-partition
    exchange, and shards are hash-balanced regardless of document-id
    distribution. Token counts are the whitespace tokenization of the
    normalized text (``text.token_stats`` ws_tokens semantics).

    Output: (doc_id, shard, pack_id, start_offset, n_tokens) —
    ``start_offset`` is the document's first-token position within its
    shard's stream, ``pack_id`` the block index within the shard.
    """
    norm = textprep.normalize(F.col(text_col))
    toks = F.size(F.split(norm, " ")).cast("long")
    return pack_from_counts(
        df.select(F.col(id_col), toks.alias("n_tokens")),
        budget=budget,
        n_shards=n_shards,
        id_col=id_col,
    )


def pack_from_counts(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = DEFAULT_SHARDS,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """:func:`pack_sequences` over a PRE-COMPUTED token-count table
    ``(id, n_tokens)`` — the text-free tail the incremental curation
    path runs when the counts were extracted in an earlier pass (the
    packing layout depends only on ids and counts, never on the text
    itself).  Same output contract and the identical expression tree,
    so packing from stored counts equals packing from the text."""
    if budget <= 0:
        raise ValueError("pack budget must be a positive token count")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    # md5-based hash64: engine-portable (the DuckDB oracle computes the
    # identical shard), non-negative, uniform; production runs off the
    # differential gate can swap fn="xxhash64" (textprep.hash64 contract)
    shard = (
        textprep.hash64(F.col(id_col).cast("string"), "shard")
        % F.lit(int(n_shards))
    ).cast("int")
    base = df.select(
        F.col(id_col),
        shard.alias("shard"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_offset")
    return base.select(
        id_col,
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(int(budget)))
        .cast("long")
        .alias("pack_id"),
        start,
        "n_tokens",
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str = "lang",
    n_per_stratum: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic exact n-per-stratum sample: rank documents within
    each stratum by ``md5(id)`` (a fixed, engine-independent pseudorandom
    order) and keep the first ``n_per_stratum``. Re-running on the same
    corpus always returns the same sample — the property eval/ablation
    splits need.

    Scale shape: the rank is a window per stratum, but Spark's
    WindowGroupLimit inserts a per-partition partial top-n BEFORE the
    shuffle, so even a stratum holding most of the corpus ships at most
    ``n × input_partitions`` rows to its final sort — a giant stratum
    skews the shuffle by n-rows-per-partition, not by its full size.

    Output: (id, stratum, sample_rank).
    """
    if n_per_stratum <= 0:
        raise ValueError("n_per_stratum must be positive")
    key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(key, F.col(id_col))
    return (
        df.select(
            F.col(id_col),
            F.col(strata_col).alias("stratum"),
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= int(n_per_stratum))
    )


def apportion(weights: dict[str, float], budget: int) -> dict[str, int]:
    """Largest-remainder apportionment of ``budget`` documents across
    strata proportional to ``weights`` (Hamilton's method): exact integer
    quotas that always sum to the budget, deterministic tie-break on the
    stratum name.  Driver-side arithmetic on the (tiny) weights dict."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    total = float(sum(weights.values()))
    quotas = {s: budget * w / total for s, w in weights.items()}
    base = {s: int(q) for s, q in quotas.items()}
    short = budget - sum(base.values())
    by_rem = sorted(quotas, key=lambda s: (-(quotas[s] - base[s]), s))
    for s in by_rem[:short]:
        base[s] += 1
    return base


def sample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted-mixture sample: draw ``budget`` documents
    with per-stratum counts proportional to ``weights`` (the data-mixture
    step that hits target domain/language proportions for a training
    run), picking within each stratum by the same fixed md5(id) order as
    :func:`sample_stratified` — re-runs reproduce the sample exactly.

    Strata absent from ``weights`` are excluded.  A stratum smaller than
    its quota under-fills (the report column ``target_n`` vs the emitted
    ranks makes the shortfall visible to the caller); quotas are exact
    largest-remainder integers summing to the budget.

    Scale shape: ranks are filtered to the LITERAL max quota first, so
    Spark's WindowGroupLimit pushes a per-partition partial top-n below
    the shuffle (a giant stratum ships max_quota × partitions rows, not
    its full size); the per-stratum quota table is a broadcast literal.

    Output: (id, stratum, sample_rank, target_n).
    """
    quotas = apportion(weights, budget)
    spark = df.sparkSession
    qdf = literal_frame(
        spark, sorted(quotas.items()), "stratum string, target_n long"
    )
    key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(key, F.col(id_col))
    ranked = (
        df.select(
            F.col(id_col),
            F.col(strata_col).alias("stratum"),
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        # constant bound first → WindowGroupLimit partial top-n pushdown
        .filter(F.col("sample_rank") <= int(max(quotas.values())))
    )
    return ranked.join(F.broadcast(qdf), on="stratum", how="inner").filter(
        F.col("sample_rank") <= F.col("target_n")
    ).select(id_col, "stratum", "sample_rank", "target_n")


def sample_token_budget(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Fill per-stratum TOKEN budgets deterministically — the
    data-mixing step stated the way training runs actually state it
    ("600 B tokens of web, 200 B of code"), vs :func:`sample_mixture`'s
    document counts: documents are taken in fixed md5(id) order until
    the stratum's token budget would be exceeded (a document is kept
    only if it fits WHOLLY).  Strata absent from ``budgets`` are
    excluded; a stratum smaller than its budget keeps everything.
    Returns the kept documents as ``(id, stratum, n_tokens)``.

    Scale design — why this is not one big sort: a per-stratum
    cumulative sum ordered by priority would sort every stratum on one
    reducer chain.  Instead the 60-bit priority space splits into
    ``n_buckets`` ORDERED range buckets; per-(stratum, bucket) token
    sums (one partial agg) give a bucket-level cumulative (a
    metadata-sized window over ≤ n_buckets rows per stratum), which
    classifies each bucket as wholly-inside, wholly-outside, or THE
    boundary bucket — and only the boundary bucket (~1/n_buckets of
    the stratum) pays the per-document cumulative sort.  The result is
    EXACTLY the full-sort semantics (property-tested: n_buckets=1
    equals n_buckets=64), so ``n_buckets`` is pure parallelism, not an
    approximation knob.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    if any(int(b) < 0 for b in budgets.values()):
        raise ValueError("budgets must be non-negative")
    nb = int(n_buckets)
    if nb < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    bucket_w = (1 << 60) // nb
    spark = df.sparkSession
    bdf = literal_frame(
        spark,
        [(s, int(b)) for s, b in sorted(budgets.items())],
        "stratum string, budget long",
    )
    ntok = F.size(
        F.filter(textprep.tokens(F.col(text_col)), lambda t: t != "")
    ).cast("long")
    p = textprep.hash64(F.col(id_col).cast("string"), "budget")
    base = (
        df.select(
            F.col(id_col),
            F.col(strata_col).alias("stratum"),
            ntok.alias("n_tokens"),
            p.alias("__p"),
        )
        # integer division: float division of 60-bit priorities exceeds
        # a double's 53-bit mantissa and could misroute boundary docs
        .withColumn("__bucket", F.expr(f"__p div {bucket_w}"))
        .join(F.broadcast(bdf), "stratum")
    )
    bcum = (
        base.groupBy("stratum", "budget", "__bucket")
        .agg(F.sum("n_tokens").alias("__bt"))
        .withColumn(
            "__cum",
            F.sum("__bt").over(
                Window.partitionBy("stratum").orderBy("__bucket")
            ),
        )
        .select(
            "stratum",
            "__bucket",
            (F.col("__cum") - F.col("__bt")).alias("__prev"),
            (F.col("__cum") <= F.col("budget")).alias("__full"),
            (
                (F.col("__cum") - F.col("__bt") < F.col("budget"))
                & (F.col("__cum") > F.col("budget"))
            ).alias("__boundary"),
        )
    )
    tagged = base.join(bcum, ["stratum", "__bucket"])
    whole = tagged.filter(F.col("__full"))
    run = F.sum("n_tokens").over(
        Window.partitionBy("stratum", "__bucket").orderBy("__p", id_col)
    )
    partial = (
        tagged.filter(F.col("__boundary"))
        .withColumn("__run", run)
        .filter(F.col("__prev") + F.col("__run") <= F.col("budget"))
    )
    cols = [id_col, "stratum", "n_tokens"]
    return whole.select(*cols).unionByName(partial.select(*cols))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding-index prep
    step (and long-document splitter for context-bounded models): each
    document yields windows of ``chunk_tokens`` whitespace tokens at
    stride ``chunk_tokens − overlap``, so consecutive chunks share
    ``overlap`` tokens of context.

    Emission rule (the standard chunker contract): windows start at
    0, stride, 2·stride, …; a window is emitted only if it CONTRIBUTES
    tokens the previous window didn't reach (``start = 0`` or
    ``start − stride + chunk_tokens < n``) — a short tail fully covered
    by its predecessor is skipped, and the final emitted window may be
    shorter than ``chunk_tokens``. Empty documents yield no rows.

    Returns ``(id, chunk_idx, start_token, n_tokens, chunk_text)`` —
    ``chunk_idx`` is the 0-based emitted-window index.

    Scale shape: one scan, one posexplode of a per-document start list
    (bounded by doc length / stride) with the slicing done by array
    functions inside codegen — no shuffle at all; downstream embedding
    or indexing decides its own partitioning.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    tok = F.filter(textprep.tokens(F.col(text_col)), lambda t: t != "")
    n = F.size("__tok")
    starts = F.filter(
        F.when(
            n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
        ).otherwise(F.array().cast("array<int>")),
        lambda s: (s == 0) | (s - stride + chunk_tokens < n),
    )
    base = df.select(F.col(id_col), tok.alias("__tok")).select(
        F.col(id_col),
        "__tok",
        F.posexplode(starts).alias("chunk_idx", "start_token"),
    )
    chunk = F.slice(
        "__tok", F.col("start_token") + 1, F.lit(chunk_tokens)
    )
    return base.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def sample_weighted(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row draws the pseudorandom uniform
    ``u = (md5-hash(id) % M + 1) / (M + 1)`` and the ``n`` rows with the
    largest ``ln(u) / w`` keys win — inclusion probability proportional
    to weight, no replacement, and the same corpus always yields the
    same sample (the reproducibility property every other sampler here
    shares).  Rows with non-positive weight are excluded.

    Output: (id, weight DOUBLE, sample_rank).

    Scale shape: the key is pure column arithmetic over one scan; the
    global top-n is orderBy+limit — Spark's TakeOrdered partial top-n
    per partition then a bounded merge, never a full sort of the
    corpus.  The final rank numbers only the n winners.
    """
    from time_series_db_spark.pipeline.textprep import hash64

    if n <= 0:
        raise ValueError("sample size n must be positive")
    M = 1_000_000_007
    u = (hash64(F.col(id_col).cast("string"), "ws") % M + 1) / F.lit(
        float(M + 1)
    )
    w = F.col(weight_col).cast("double")
    keyed = (
        df.select(
            F.col(id_col),
            w.alias("weight"),
            (F.log(u) / w).alias("__key"),
        )
        .filter(F.col("weight") > 0)
    )
    top = keyed.orderBy(F.desc("__key"), F.asc(id_col)).limit(int(n))
    rank_w = Window.orderBy(F.desc("__key"), F.asc(id_col))
    return top.select(
        id_col,
        "weight",
        F.row_number().over(rank_w).cast("long").alias("sample_rank"),
    )


def pack_bins_bfd(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = DEFAULT_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-fit-decreasing bin packing — the padding-efficiency
    alternative to :func:`pack_sequences`: documents are whole units
    (never split across blocks); within each hash shard, docs are taken
    longest-first and each goes into the open bin with the LEAST
    remaining capacity that still fits (new bin otherwise).  Documents
    longer than ``budget`` get a singleton oversized bin (flagged).
    BFD's padding waste is near-optimal for Zipf-ish length mixes where
    first-fit leaves stranded gaps.

    Output: ``(id_col, shard, bin_id, n_tokens, bin_fill, oversized)``
    — ``bin_fill`` is the bin's total tokens (repeated on each member),
    so ``budget − bin_fill`` is its padding.

    The greedy loop is inherently sequential, so it runs per shard in
    ONE Arrow ``applyInPandas`` pass; shards are hash-balanced, so
    skew is bounded by a shard's token mass, never the corpus.  There
    is deliberately NO SQL oracle (a greedy recurrence has no
    reasonable relational replay); correctness is pinned by an exact
    Python-replay property test plus packing invariants
    (tests/test_r7_ops.py).
    """
    if budget <= 0:
        raise ValueError("pack budget must be a positive token count")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    import pandas as pd

    norm = textprep.normalize(F.col(text_col))
    toks = F.size(F.split(norm, " ")).cast("long")
    base = df.select(
        F.col(id_col),
        (textprep.hash64(F.col(id_col).cast("string"), "packshard")
         % F.lit(n_shards)).cast("int").alias("shard"),
        toks.alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []      # remaining capacity per open bin
        assign: list[int] = []
        oversized: list[bool] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > budget:
                bins.append(-1)   # closed singleton, nothing else fits
                assign.append(len(bins) - 1)
                oversized.append(True)
                continue
            best, best_rem = -1, budget + 1
            for b, rem in enumerate(bins):
                if n <= rem < best_rem:
                    best, best_rem = b, rem
            if best < 0:
                bins.append(budget - n)
                assign.append(len(bins) - 1)
            else:
                bins[best] -= n
                assign.append(best)
            oversized.append(False)
        pdf["bin_id"] = pd.Series(assign, dtype="int64")
        pdf["oversized"] = pd.Series(oversized, dtype="bool")
        fill = pdf.groupby("bin_id")["n_tokens"].transform("sum")
        pdf["bin_fill"] = fill.astype("int64")
        return pdf[[id_col, "shard", "bin_id", "n_tokens",
                    "bin_fill", "oversized"]]

    schema = (
        f"{id_col} long, shard int, bin_id long, n_tokens long, "
        f"bin_fill long, oversized boolean"
    )
    return base.groupBy("shard").applyInPandas(_pack, schema)
