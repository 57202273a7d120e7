"""Text-prep expression library shared by dedup / text-analysis operators.

Everything here returns Catalyst Column expressions (no UDFs): the hot
path stays inside whole-stage codegen and scales linearly with input
splits. The portable 64-bit hash (``model.hash64``, re-exported here
with ``sql_hash64``) is md5-based so the DuckDB differential
oracle computes bit-identical values; at production scale swap
``hash_fn="xxhash64"`` (JVM-native, ~10× faster, no hex round-trip) —
the LSH math is hash-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_db_spark.model import hash64, sql_hash64  # noqa: F401


def rebalance_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` ONLY
    when it currently has fewer partitions than that.

    Hash-heavy explode stages (n-gram novelty, boilerplate spans) die
    on a compact local parquet corpus that arrives as 1–2 splits — all
    hashing serializes on one core (A/B-measured 9.8 s → 1.1 s at
    sf0.1).  But an unconditional ``repartition`` is a full shuffle of
    the raw text, which at 100 TB adds an O(corpus) exchange in front
    of a scan that was already well-split — so the rebalance is gated
    on the actual input partition count and becomes a true no-op on
    large multi-split scans.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df

#: large prime for rolling fingerprints (fits products in int64:
#: acc < 1e9+7, acc*131 + h < 2^63)
FP_MOD = 1_000_000_007
FP_BASE = 131


def normalize(col: Column) -> Column:
    """Canonical text form: lowercase, trimmed, whitespace collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


SQL_NORMALIZE = r"regexp_replace(lower(trim({c})), '\s+', ' ', 'g')"


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize(col), " ")


SQL_TOKENS = "string_split(" + SQL_NORMALIZE + ", ' ')"


def bind_once(col: Column, body) -> Column:
    """Evaluate ``col`` exactly ONCE per row and hand the result to
    ``body`` as a bound lambda variable.

    Spark's higher-order functions (``transform``/``aggregate``/…) are
    CodegenFallback: the lambda body is re-interpreted per element, and
    any non-trivial expression it references — rather than a column or
    lambda variable — is RE-EVALUATED per element.  A shingle transform
    over ``split(regexp_replace(text, …))`` therefore re-tokenizes the
    whole document once per shingle: O(tokens²) per row (measured 3.6 s
    → 0.37 s at sf0.1 for the bigram shingle set, r13 optimization;
    guide §4.1 — keep the per-row work linear before tuning anything
    else).  Wrapping the operand as ``transform(array(col), x ->
    body(x))[1]`` forces one evaluation: ``array(col)`` is the
    transform's ARGUMENT (evaluated once), and every reference inside
    ``body`` is a lambda-variable lookup.  Pure evaluation-order change
    — results are bit-identical.
    """
    return F.element_at(F.transform(F.array(col), body), 1)


def word_shingles(tok: Column, k: int = 3) -> Column:
    """Distinct word *k*-grams — the MinHash/Jaccard item set.

    ``sequence`` needs start <= stop, so short documents (< k tokens)
    yield the whole document as a single shingle.  The token array is
    bound once per row (:func:`bind_once`) — callers pass the raw
    ``tokens(text)`` expression, and without the binding every shingle
    slice would re-run the tokenizer.
    """

    def body(t: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.array_join(F.slice(t, i + 1, k), " "),
        )
        return F.array_distinct(
            F.when(F.size(t) >= k, ngrams).otherwise(F.array(F.array_join(t, " ")))
        )

    return bind_once(tok, body)


def sql_word_shingles(tok_expr: str, k: int = 3) -> str:
    """DuckDB rendering of :func:`word_shingles` over a token-list expr."""
    return (
        f"list_distinct(CASE WHEN len({tok_expr}) >= {k} THEN "
        f"[array_to_string(({tok_expr})[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len({tok_expr}) - {k - 1})] "
        f"ELSE [array_to_string({tok_expr}, ' ')] END)"
    )
