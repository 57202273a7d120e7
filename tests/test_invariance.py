"""Distribution-invariance: results must not depend on partitioning.

SURVEY.md §5 layer 5: the reference's multi-shard/multi-node cluster tests
reduce, on Spark, to "identical results under any
``spark.sql.shuffle.partitions`` and any input split" — the Spark analogs
of shard count and doc routing. One parameterized sweep over a
representative operator per family.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from time_series_db_spark.operators import binary, grouping, ordering, windows
from time_series_db_spark.sources import DEFAULT_STEP_MS, fetch_events

#: property/fuzz/invariance sweep: the slow tier
pytestmark = pytest.mark.slow


def _op_sum(sf):
    return grouping.sum_(sf, ["name", "region"], exact=True)


def _op_percentile(sf):
    return grouping.percentile_of_series(sf, [50.0], ["name"])


def _op_moving(sf):
    return windows.moving(sf, 3 * DEFAULT_STEP_MS, "avg")


def _op_keep_last(sf):
    return windows.keep_last_value(sf)


def _op_divide(sf):
    return binary.divide(sf, grouping.sum_(sf, ["name"], exact=True), keys=["name"])


def _op_topk(sf):
    return ordering.top_k(sf, 5, "avg", descending=True)


OPS = {
    "grouped_sum": _op_sum,
    "percentile": _op_percentile,
    "moving_avg": _op_moving,
    "keep_last_value": _op_keep_last,
    "binary_divide": _op_divide,
    "topk": _op_topk,
}


def _rows(sf):
    out = []
    for r in sf.df.collect():
        v = r["value"]
        if isinstance(v, float) and not math.isnan(v):
            v = round(v, 9)
        out.append((r["series_key"], r["ts"], repr(v)))
    return sorted(out)


#: headline catalog queries (the bench set + federation), swept under
#: the shard-count and doc-routing analogs — the Spark port of
#: multi_index_pushdown_comparison_rest_it.yaml's "pushdown on/off and
#: shard layout never change results" contract
HEADLINE_QUERIES = [
    "m3_fetch_filtered",
    "m3_sum_by",
    "m3_moving_avg",
    "m3_keep_last_value",
    "m3_per_second_rate",
    "m3_divide",
    "m3_topk",
    "m3_percentile_of_series",
    "m3_federated_fetch",
    "m3ql_macros_binary",
    "promql_sum_by_rate",
    "stats_labels",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_lsh_topk",
    "tpch_q1_pricing",
    # round-6 families: retrieval, importance weighting, cross-corpus
    # dedup, chunking, and the wire-format round trips
    "search_bm25",
    "sample_importance_dsir",
    "dedup_cross_corpus",
    "chunk_documents",
    "m3_exposition_roundtrip",
    "m3_line_protocol_roundtrip",
    "m3_graphite_roundtrip",
    # temporal joins + sampling: tie-handling and top-n cuts must not
    # depend on partitioning
    "events_asof_join",
    "events_range_join",
    "events_retention",
    "events_transitions",
    "sample_weighted",
    "text_pmi_bigrams",
    # round-7: PQ encode in its exploded scalar shape — codeword
    # assignment (argmin over trained books) must not depend on
    # partitioning of the training pass
    "embedding_pq_codes",
    # round-7: argmax-area selection must not depend on partitioning
    "m3_decimate_lttb",
    # round-7: iterative trainer — per-round argmax pair collects must
    # be partitioning-invariant or the whole merge chain diverges
    "text_bpe_merges",
    # round-7: cross-label top-k cut and log-sum scoring
    "ann_hard_negatives",
    "text_kl_divergence",
    # round-8: running-window CUSUM statistic, subword stream positions,
    # celled cross-label cut, recall aggregation, graded overlap
    "m3_changepoints",
    "text_bpe_encode",
    "ann_hard_negatives_ivf",
    "ann_lsh_recall",
    "decontaminate_overlap",
    "text_source_stats",
    "embedding_matryoshka",
    "search_hybrid_rerank",
    # round-8 second wave: gap-run generation, windowed recurrence fold,
    # broadcast-target correlation, tf-idf rank cut, centroid drift,
    # CC-size weighting, rank fusion, fleet median/MAD scoring
    "m3_interpolate",
    "m3_ewma",
    "m3_correlate_target",
    "text_tfidf_terms",
    "embedding_source_drift",
    "dedup_soft_weights",
    "search_rrf",
    "m3_fleet_outliers",
    "search_mmr",
    "m3_autocorrelation",
    "text_bpe_fertility",
    "m3_moving_percentile",
    # round-9: banded-sketch candidate generation + exact pair moments,
    # quantized ACF argmax + majority vote (both the fleet and the
    # per-series legs), frozen-model cross-corpus encode/OOV, CC-based
    # hash split, snapshot diff, eval-side collision counting
    "m3_correlate_matrix",
    "m3_seasonal_auto",
    "m3_seasonal_auto_series",
    "m3_season_votes",
    "text_bpe_encode_xcorpus",
    "text_bpe_oov_xcorpus",
    "split_leakage_safe",
    "corpus_diff",
    "decontaminate_eval_side",
    "text_snapshot_psi",
    # round-10: centered-MA edge gating + detrended phase profile,
    # category-union bucketing, prebuilt-model band join, and the
    # carried-features union feeding the min-id survivor cut
    "m3_seasonal_decompose",
    "text_categorical_psi",
    "dedup_xcorpus_prebuilt",
    "pipeline_curate_incremental",
    # round-10: per-lag grouped corr → quantized argmax over lags;
    # GD-trained linear probe scoring the held-out half
    "m3_lead_lag",
    "text_quality_classifier",
    # round-10: distinct-doc prevalence count → flag join → reassembly
    "dedup_boilerplate_spans",
    # round-10: ACF vote → endpoint table → horizon grid → base join
    "m3_forecast",
    "m3ql_forecast",
    # round-10: delta-only signature refresh feeding the band join
    "dedup_xcorpus_update",
    # round-10: integer-grid threshold sweep over the scored holdout
    "text_classifier_calibration",
    # round-10: judgment joins + integer DCG sums + bounded rank window
    "search_eval_metrics",
    # round-10: exact integer windowed co-moments over the ts range frame
    "m3_rolling_corr",
    # round-10: Hamming band keys + candidate join + popcount verify
    "mm_ahash_neardup",
    # round-10: query probes against the pre-built celled index
    "ann_ivf_prebuilt",
    # round-10: gram prevalence count + flag join + per-doc ratio
    "text_ngram_novelty",
    # round-10: hold-out cut + forecast chain + integer error sums
    "m3_forecast_backtest",
    # round-10: priority-range bucket cumulative + boundary-only sort
    "sample_token_budget",
    # round-10: frozen-centroid delta assignment feeding the cell join
    "ann_ivf_update",
    # round-10: language-path grouped max + integer co-moment windows
    "m3ql_rolling_corr",
    # round-10: funnel unpivot + exact interpolated quantiles
    "events_funnel_latency",
]


@pytest.mark.parametrize("qname", HEADLINE_QUERIES)
def test_headline_query_invariance(spark, sf_dir, qname):
    """Catalog queries end-to-end: identical rows under different
    shuffle parallelism AND different input file splits (tiny
    maxPartitionBytes → many splits — the doc-routing analog for
    parquet-scanning queries)."""
    from time_series_db_spark.catalog import QUERIES

    fn = QUERIES[qname]

    def rows():
        return sorted(repr(tuple(r)) for r in fn(spark, sf_dir).collect())

    orig_sp = spark.conf.get("spark.sql.shuffle.partitions")
    orig_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        reference = rows()

        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert rows() == reference, "changed by shuffle parallelism"

        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        assert rows() == reference, "changed by input split size"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_sp)
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig_mpb)


@pytest.mark.parametrize("op_name", sorted(OPS))
def test_partitioning_invariance(spark, sf_dir, op_name):
    op = OPS[op_name]
    base = fetch_events(spark, sf_dir)

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        reference = _rows(op(base))

        # shard-count analog: different shuffle parallelism
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert _rows(op(base)) == reference

        # doc-routing analog: arbitrary input splits
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        scrambled = base.with_df(base.df.repartition(17, F.col("ts")))
        assert _rows(op(scrambled)) == reference
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


@pytest.mark.parametrize("fn", ["sum", "avg", "min", "max", "median"])
def test_moving_formulations_agree(spark, sf_dir, fn):
    """The scatter (small-k) and dense-window (large-k) moving
    formulations must produce identical rows — the k-threshold switch
    is a physical choice, not a semantic one."""
    sf = fetch_events(spark, sf_dir)
    w = 3 * DEFAULT_STEP_MS
    scatter = windows._moving_scatter(sf, 3, fn)
    dense = windows._moving_dense(sf, w, fn)
    assert _rows(scatter) == _rows(dense)


# ---------------------------------------------------------------------------
# Composition identities: a composite operator must equal the composition
# it documents (r5 additions) — run through the full language path so the
# planner, builder, and operators are all in the loop.
# ---------------------------------------------------------------------------


def _m3ql(spark, sf_dir, q):
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.sources import EVENTS_MAX_TS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    sf = execute(
        q, EventsSource(spark, sf_dir),
        EVENTS_MIN_TS, EVENTS_MAX_TS, DEFAULT_STEP_MS,
    )
    return {
        (r.series_key, r.ts): round(r.value, 9) if not math.isnan(r.value) else "NaN"
        for r in sf.df.collect()
    }


def test_multi_burn_rate_equals_burn_rate_union(spark, sf_dir):
    multi = _m3ql(
        spark, sf_dir,
        "fetch name:error | max region"
        " | multiBurnRate 0.99 1h 6h (fetch name:{error,click} | max region)",
    )
    singles = {}
    for w in ("1h", "6h"):
        singles.update(_m3ql(
            spark, sf_dir,
            f"fetch name:error | max region"
            f" | burnRate {w} 0.99 (fetch name:{{error,click}} | max region)"
            f" | _tagAdd window {w}",
        ))
    assert multi == singles


def test_summarize_by_equals_agg_then_summarize(spark, sf_dir):
    composite = _m3ql(spark, sf_dir, "fetch name:* | _summarizeBy 6h max region")
    composed = _m3ql(spark, sf_dir, "fetch name:* | max region | summarize 6h max")
    assert composite == composed and composite


def test_divide_when_always_true_equals_divide(spark, sf_dir):
    """With a predicate every denominator passes and full match coverage,
    divideWhen degenerates to divide exactly (left join ≡ inner join when
    every row matches)."""
    guarded = _m3ql(
        spark, sf_dir,
        "fetch name:error | divideWhen ge -999999999 "
        "(fetch name:error | sum region) region",
    )
    plain = _m3ql(
        spark, sf_dir,
        "fetch name:error | divide (fetch name:error | sum region) region",
    )
    assert guarded == plain and guarded


def test_percentile_windowed_equals_array_path(spark, sf_dir):
    """The spill-safe rank-window percentile and the MultiValueSample
    array path are the same function — including interpolation and the
    rank<=1 edge."""
    from time_series_db_spark.operators import grouping
    from time_series_db_spark.sources import fetch_events

    sf = fetch_events(spark, sf_dir)
    for interpolate in (False, True):
        a = grouping.percentile_of_series(
            sf, [10.0, 50.0, 99.5], ["region"], interpolate=interpolate
        ).df
        b = grouping.percentile_of_series_windowed(
            sf, [10.0, 50.0, 99.5], ["region"], interpolate=interpolate
        ).df
        ra = sorted(repr((r.series_key, r.ts, round(r.value, 9))) for r in a.collect())
        rb = sorted(repr((r.series_key, r.ts, round(r.value, 9))) for r in b.collect())
        assert ra == rb, interpolate
