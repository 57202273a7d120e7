"""Round-7 tests: advisor fixes (exposition label-less lines, PromQL
scalar power semantics, parse_query zero-param fields, graphite
non-finite values, PQ LUT density), the verdict's guard rails
(flat-ADC query-count bound, asof tiebreak type validation, service
query limits), and the round's new operators — bloom decontamination,
BPE training (exact-replay property), LTTB decimation, seasonal
decomposition, BFD bin packing, hard-negative mining, KL scoring, the
wire-format streaming legs, and the never-crash wire-parser fuzz."""

from __future__ import annotations

import math

import pytest


# ---------------------------------------------------------------------------
# exposition: label-less sample lines (the most common exporter form)
# ---------------------------------------------------------------------------


def test_exposition_parses_label_less_lines(spark):
    from time_series_db_spark.sources.exposition import parse_exposition

    lines = spark.createDataFrame(
        [
            ("metric_name 42 1000",),           # bare name, no braces
            ("up 1",),                           # no braces, no timestamp
            ("cpu_total\t3.5\t2000",),           # tab separators
            ("go_goroutines  7  3000",),         # multi-space separators
            ('cpu{host="a"} 1.5 4000',),         # braced form still works
        ],
        "line string",
    )
    got = parse_exposition(lines).collect()
    by = {tuple(sorted(dict(r["labels"]).items())): r for r in got}
    assert len(got) == 5
    assert by[(("name", "metric_name"),)]["value"] == 42.0
    assert by[(("name", "metric_name"),)]["ts"] == 1000
    assert by[(("name", "up"),)]["ts"] is None
    assert by[(("name", "cpu_total"),)]["value"] == 3.5
    assert by[(("name", "go_goroutines"),)]["ts"] == 3000
    assert by[(("host", "a"), ("name", "cpu"))]["value"] == 1.5


def test_exposition_label_less_roundtrip_unaffected(spark):
    """The formatter always emits braces; its output must still parse
    identically after the optional-brace change."""
    from time_series_db_spark.model import SeriesFrame, series_key_expr
    from time_series_db_spark.sources.exposition import (
        format_exposition,
        parse_exposition,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [({"name": "m"}, 1000, 1.0), ({"name": "m", "h": "x"}, 2000, 2.0)],
        "labels map<string,string>, ts long, value double",
    ).select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels", "ts", "value",
    )
    back = parse_exposition(format_exposition(SeriesFrame(df, 1000, 0, 10**15)))
    a = sorted(
        repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
        for r in df.collect()
    )
    b = sorted(
        repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
        for r in back.collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# PromQL scalar folding: Go math.Pow semantics
# ---------------------------------------------------------------------------


def _fold(text: str):
    from time_series_db_spark.lang.prom import builder
    from time_series_db_spark.lang.prom.parser import parse

    return builder._fold_scalar(parse(text).children[0])


def test_fold_scalar_pow_go_semantics():
    assert _fold("0 ^ -1") == math.inf          # Go: +Inf, not ZeroDivision
    assert math.isnan(_fold("(0 - 2) ^ 0.5"))    # Go: NaN, not complex
    assert _fold("2 ^ 10") == 1024.0
    assert _fold("1e200 ^ 2") == math.inf        # overflow → +Inf
    assert _fold("(0 - 1e200) ^ 3") == -math.inf  # odd power keeps sign
    assert _fold("0 ^ 0") == 1.0                 # Go: Pow(0,0)=1
    assert _fold("(0-8) ^ (1/3)") is not None    # folds, no crash


def test_fold_scalar_pow_inside_comparison():
    # the original crash shape: a valid query must evaluate, not raise
    assert _fold("(0 ^ -1) > bool 1") == 1.0


def test_prom_missing_function_args_fail_typed(spark):
    """Missing scalar arguments must raise the typed parse error
    (Prometheus bad_data), never a raw IndexError — the r7 fuzz caught
    clamp_max(v) escaping with one."""
    from time_series_db_spark.lang.prom.ast import PromParseError
    from time_series_db_spark.lang.prom.builder import execute
    from time_series_db_spark.sources import EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    for q in ("clamp_max(error)", "clamp_min(error)", "clamp(error)",
              "holt_winters(error[3h])", "label_replace(error)",
              # r7 fuzz round 2: aggregation-param coercion escapes
              "topk(Inf, error)", "limitk(-1, error)",
              "limit_ratio(Inf, error)",
              "holt_winters(error[3h], NaN, 0.1)",
              "holt_winters(error[3h], 0.3, 2)"):
        with pytest.raises(PromParseError):
            execute(q, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 3_600_000,
                    3_600_000)


def test_prom_out_of_range_quantiles_follow_prometheus(spark):
    """φ outside [0,1] is a VALID query in Prometheus: quantile family
    returns NaN/−Inf/+Inf instead of erroring — Spark's percentile
    would reject it at analysis time, and a non-finite φ interpolated
    into SQL text crashed as an unresolved column (r7 fuzz)."""
    import math

    from time_series_db_spark.lang.prom.builder import execute
    from time_series_db_spark.sources import EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")

    def vals(q):
        sf = execute(q, src, EVENTS_MIN_TS,
                     EVENTS_MIN_TS + 5 * 3_600_000, 3_600_000)
        return [r["value"] for r in sf.df.collect()]

    assert all(v == float("-inf") for v in vals("quantile(-1, error)"))
    assert all(v == float("inf") for v in vals("quantile(2, error)"))
    assert all(math.isnan(v) for v in vals("quantile(NaN, error)"))
    assert all(
        v == float("inf") for v in vals("quantile_over_time(Inf, error[3h])")
    )
    # non-finite histogram_fraction bounds must not crash analysis
    execute("histogram_fraction(NaN, 2, view)", src, EVENTS_MIN_TS,
            EVENTS_MIN_TS + 3_600_000, 3_600_000).df.count()


# ---------------------------------------------------------------------------
# parse_query JSON AST: zero-valued params survive
# ---------------------------------------------------------------------------


def test_parse_query_keeps_zero_param():
    from time_series_db_spark.lang.prom.fmt import parse_query

    d = parse_query('topk(0, metric)')
    assert d["param"] == 0.0
    q = parse_query('quantile(0, metric)')
    assert q["param"] == 0.0
    # absent fields still drop: a plain selector has no param key
    s = parse_query("metric")
    assert "param" not in s


def test_parse_query_zero_number_literal_kept():
    from time_series_db_spark.lang.prom.fmt import parse_query

    d = parse_query("0")
    assert d["type"] == "NumberLiteral" and d["value"] == 0.0


# ---------------------------------------------------------------------------
# wire parsers never crash on arbitrary input
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck as _HC, given as _given, settings as _settings  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402

_wire_lines = _st.lists(
    _st.text(
        alphabet=_st.sampled_from(list('ab{}=," ;\\\n0123456789.eE+-_#i')),
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@pytest.mark.slow
@_settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(lines=_wire_lines)
def test_wire_parsers_never_crash_on_garbage(spark, lines):
    """Malformed lines DROP — no parser may throw executor-side on any
    byte soup (the contract the streaming legs rely on; an ANSI
    element_at escape here once killed a whole micro-batch)."""
    from time_series_db_spark.sources.exposition import parse_exposition
    from time_series_db_spark.sources.graphite import parse_graphite
    from time_series_db_spark.sources.lineprotocol import parse_line_protocol

    df = spark.createDataFrame(
        [(ln.replace("\n", " "),) for ln in lines], "line string"
    )
    for parser in (parse_exposition, parse_line_protocol, parse_graphite):
        parser(df).collect()  # must not raise


# ---------------------------------------------------------------------------
# graphite: non-finite values are unrepresentable, not silently lost
# ---------------------------------------------------------------------------


def _series_df(spark, rows):
    from pyspark.sql import functions as F

    from time_series_db_spark.model import series_key_expr

    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    ).select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels", "ts", "value",
    )


def test_graphite_nonfinite_values_strict_raises_lenient_drops(spark):
    from time_series_db_spark.sources.graphite import format_graphite

    df = _series_df(
        spark,
        [
            ({"name": "m"}, 1000, float("nan")),
            ({"name": "m"}, 2000, float("inf")),
            ({"name": "m"}, 3000, float("-inf")),
            ({"name": "m"}, 4000, 1.5),
        ],
    )
    with pytest.raises(Exception, match="cannot represent"):
        format_graphite(df).collect()
    lenient = [r["line"] for r in format_graphite(df, strict=False).collect()]
    assert lenient == ["m 1.5 4"]


# ---------------------------------------------------------------------------
# PQ guards: dense codebooks + flat-ADC query bound
# ---------------------------------------------------------------------------


def _vec_df(spark, ids, dims=8):
    import numpy as np

    rows = [
        (int(i), [float(x) for x in np.random.RandomState(i).rand(dims)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_adc_rejects_sparse_codebooks(spark):
    """Ids not covering 0..k-1 train a sparse book; positional LUT
    indexing would silently misalign — must raise instead."""
    from time_series_db_spark.pipeline import ann

    corpus = _vec_df(spark, range(100, 140))  # no ids < k → sparse book
    queries = _vec_df(spark, range(100, 103))
    with pytest.raises(ValueError, match="dense"):
        ann.pq_adc_topk(
            corpus, queries, m=4, k=8, train_iters=1, dims=8
        ).collect()


def test_pq_adc_guards_query_count(spark, monkeypatch):
    from time_series_db_spark.pipeline import ann

    corpus = _vec_df(spark, range(40))
    queries = _vec_df(spark, range(12))
    monkeypatch.setattr(ann, "MAX_ADC_QUERIES", 11)
    with pytest.raises(ValueError, match="MAX_ADC_QUERIES=11"):
        ann.pq_adc_topk(corpus, queries, m=4, k=8, dims=8)
    # at the cap the plan builds (the constant is read per call)
    monkeypatch.setattr(ann, "MAX_ADC_QUERIES", 12)
    out = ann.pq_adc_topk(corpus, queries, m=4, k=8, train_iters=1, dims=8)
    assert out.columns == ["query_id", "neighbor_id", "rank", "adc_dist"]


# ---------------------------------------------------------------------------
# bloom-prefiltered decontamination
# ---------------------------------------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_decontaminate_equals_exact(spark):
    """The bitmap prefilter is semantics-free: output must be row-equal
    to the plain broadcast-hash-set decontaminate on the same inputs
    (no false negatives by construction; the confirm join removes the
    false positives)."""
    from time_series_db_spark.pipeline import decontam

    corpus = _docs_df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated text about spark distributed joins"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
        (4, "short"),
    ])
    evals = _docs_df(spark, [
        (100, "xx the quick brown fox jumps over the lazy dog yy"),
        (101, "short"),
    ])
    for n in (3, 8):
        a = sorted(
            tuple(r) for r in decontam.decontaminate(
                corpus, evals, n=n, min_hits=1
            ).collect()
        )
        b = sorted(
            tuple(r) for r in decontam.bloom_decontaminate(
                corpus, evals, n=n, min_hits=1, m_bits=1 << 12
            ).collect()
        )
        assert a == b
    # flagged docs are the overlapping ones
    flagged = {r[0] for r in b if r[2]}
    assert flagged == {1, 3, 4}


def test_bloom_decontaminate_tiny_bitmap_still_exact(spark):
    """An undersized bitmap (high FP rate) must never change results —
    only cost: everything funnels to the exact confirm."""
    from time_series_db_spark.pipeline import decontam

    corpus = _docs_df(
        spark, [(i, f"doc {i} words alpha beta gamma {i}") for i in range(20)]
    )
    evals = _docs_df(spark, [(99, "doc 7 words alpha beta gamma 7")])
    out = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.bloom_decontaminate(
            corpus, evals, n=3, m_bits=64, k_hashes=2
        ).collect()
    }
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in decontam.decontaminate(corpus, evals, n=3).collect()
    }
    assert out == exact


def test_bloom_decontaminate_validates_params(spark):
    from time_series_db_spark.pipeline import decontam

    docs = _docs_df(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="power of two"):
        decontam.bloom_decontaminate(docs, docs, m_bits=1000)
    with pytest.raises(ValueError, match="k_hashes"):
        decontam.bloom_decontaminate(docs, docs, k_hashes=0)


def test_bloom_decontaminate_plan_stays_jvm_side(spark):
    from time_series_db_spark.pipeline import decontam

    corpus = _docs_df(spark, [(1, "a b c d e f g h i j")])
    evals = _docs_df(spark, [(2, "a b c d e f g h i j")])
    plan = decontam.bloom_decontaminate(
        corpus, evals, n=3
    )._sc._jvm.PythonSQLUtils.explainString(
        decontam.bloom_decontaminate(corpus, evals, n=3)._jdf.queryExecution(),
        "formatted",
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# parallel-LTTB decimation
# ---------------------------------------------------------------------------


def _mini_series(spark, points):
    from pyspark.sql import functions as F

    from time_series_db_spark.model import SeriesFrame, series_key_expr

    df = spark.createDataFrame(
        [({"name": "m"}, ts, v) for ts, v in points],
        "labels map<string,string>, ts long, value double",
    ).select(
        series_key_expr(F.col("labels")).alias("series_key"),
        "labels", F.lit(None).cast("string").alias("alias"), "ts", "value",
    )
    return SeriesFrame(df, 10, 0, 10**9)


def test_decimate_lttb_keeps_spike_and_endpoints(spark):
    from time_series_db_spark.operators.windows import decimate_lttb

    # buckets of 100: [0,100): flat-ish start; [100,200): contains a
    # spike at 150 that a mean would flatten; [200,300): end
    pts = [
        (0, 1.0), (50, 1.0),
        (100, 1.0), (150, 100.0), (190, 1.0),
        (200, 1.0), (250, 1.0),
    ]
    out = sorted(
        (r["ts"], r["value"])
        for r in decimate_lttb(_mini_series(spark, pts), 100).df.collect()
    )
    # one row per bucket: first bucket keeps earliest, interior keeps
    # the spike, last keeps latest
    assert out == [(0, 1.0), (150, 100.0), (250, 1.0)]


def test_decimate_lttb_single_bucket_and_validation(spark):
    from time_series_db_spark.operators.windows import decimate_lttb

    out = decimate_lttb(
        _mini_series(spark, [(0, 5.0), (10, 7.0)]), 1000
    ).df.collect()
    assert [(r["ts"], r["value"]) for r in out] == [(0, 5.0)]
    with pytest.raises(ValueError, match="positive"):
        decimate_lttb(_mini_series(spark, [(0, 1.0)]), 0)


# ---------------------------------------------------------------------------
# best-fit-decreasing bin packing
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _bfd_replay(items, budget):
    """Exact replay of pack_bins_bfd's per-shard greedy: longest-first
    (id-ascending ties), best-fit open bin, oversized singletons."""
    order = sorted(items, key=lambda t: (-t[1], t[0]))
    bins, assign = [], {}
    for did, n in order:
        if n > budget:
            bins.append(-1)
            assign[did] = len(bins) - 1
            continue
        best, best_rem = -1, budget + 1
        for b, rem in enumerate(bins):
            if n <= rem < best_rem:
                best, best_rem = b, rem
        if best < 0:
            bins.append(budget - n)
            assign[did] = len(bins) - 1
        else:
            bins[best] -= n
            assign[did] = best
    return assign


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(st.integers(min_value=1, max_value=40),
                  min_size=1, max_size=50),
)
def test_pack_bins_bfd_matches_replay_and_invariants(spark, lens):
    from time_series_db_spark.pipeline.pack import pack_bins_bfd

    budget = 32
    docs = spark.createDataFrame(
        [(i, "w " * n) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    rows = pack_bins_bfd(docs, budget=budget, n_shards=2).collect()
    assert len(rows) == len(lens)
    # invariants: no non-oversized bin exceeds budget; fill is the sum
    # of its members; every doc appears once
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
    for members in by_bin.values():
        fill = sum(m["n_tokens"] for m in members)
        assert all(m["bin_fill"] == fill for m in members)
        if not any(m["oversized"] for m in members):
            assert fill <= budget
        else:
            assert len(members) == 1  # oversized bins are singletons
    # per-shard assignment equals the exact greedy replay
    for shard in {r["shard"] for r in rows}:
        items = [(r["doc_id"], r["n_tokens"]) for r in rows
                 if r["shard"] == shard]
        expect = _bfd_replay(items, budget)
        got = {r["doc_id"]: r["bin_id"] for r in rows if r["shard"] == shard}
        assert got == expect


def test_pack_bins_bfd_validates(spark):
    from time_series_db_spark.pipeline.pack import pack_bins_bfd

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget"):
        pack_bins_bfd(docs, budget=0)
    with pytest.raises(ValueError, match="n_shards"):
        pack_bins_bfd(docs, n_shards=0)


# ---------------------------------------------------------------------------
# hard-negative mining + KL domain scoring
# ---------------------------------------------------------------------------


def test_hard_negatives_cross_label_only_and_ranked(spark):
    from time_series_db_spark.pipeline import ann

    # label 0 anchors; label-1 vectors at varying similarity; a nearly
    # identical label-0 vector must NOT appear despite top cosine
    rows = [
        (0, [1.0, 0.0, 0.0], 0),     # anchor
        (1, [0.999, 0.01, 0.0], 0),  # same-label near-twin — excluded
        (2, [0.9, 0.1, 0.0], 1),     # hardest negative
        (3, [0.5, 0.5, 0.0], 1),
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0], 2),     # orthogonal, other label
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = ann.hard_negatives(
        df, df.filter("vec_id = 0"), k=3
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(2, 1), (3, 2), (4, 3)]
    assert all(r["neighbor_label"] != r["query_label"] for r in out)


def test_kl_divergence_orders_outlier_above_typical(spark):
    from time_series_db_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 10),   # corpus-typical
            (2, "the cat sat on the mat " * 10),
            (3, "zq xv wy unique rare tokens only here"),  # off-distribution
        ],
        "doc_id long, text string",
    )
    kl = {r["doc_id"]: r["kl"] for r in T.kl_divergence(docs).collect()}
    assert all(v >= -1e-12 for v in kl.values())  # KL >= 0 (no smoothing)
    assert kl[3] > kl[1]
    assert abs(kl[1] - kl[2]) < 1e-12  # identical docs, identical score


# ---------------------------------------------------------------------------
# seasonal decomposition
# ---------------------------------------------------------------------------


def test_seasonal_adjust_hand_computed(spark):
    from time_series_db_spark.operators.windows import seasonal_adjust

    H = 3_600_000
    D = 24 * H
    # two days: hour-0 values 10 and 20 (profile 15), hour-1 constant 5
    pts = [(0, 10.0), (H, 5.0), (D, 20.0), (D + H, 5.0)]
    res = {
        r["ts"]: r["value"]
        for r in seasonal_adjust(_mini_series(spark, pts)).df.collect()
    }
    assert res == {0: -5.0, H: 0.0, D: 5.0, D + H: 0.0}
    seas = {
        r["ts"]: r["value"]
        for r in seasonal_adjust(
            _mini_series(spark, pts), output="seasonal"
        ).df.collect()
    }
    assert seas == {0: 15.0, H: 5.0, D: 15.0, D + H: 5.0}
    with pytest.raises(ValueError, match="residual"):
        seasonal_adjust(_mini_series(spark, pts), output="nope")
    with pytest.raises(ValueError, match="divid"):
        seasonal_adjust(_mini_series(spark, pts), 100, 33)


def test_seasonal_adjust_m3ql_plan_validation():
    from time_series_db_spark.lang.m3.parser import parse
    from time_series_db_spark.lang.m3.plan import M3PlanError, build_plan

    with pytest.raises(M3PlanError, match="divide"):
        build_plan(parse("fetch name:x | seasonalAdjust 1d 7h"))
    with pytest.raises(M3PlanError, match="residual"):
        build_plan(parse("fetch name:x | seasonalAdjust 1d 1h bogus"))
    with pytest.raises(M3PlanError, match="minmax"):
        build_plan(parse("fetch name:x | decimate 2h bogus"))
    with pytest.raises(M3PlanError, match="decimate expects"):
        build_plan(parse("fetch name:x | decimate"))


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------


def _bpe_replay(texts, n_merges):
    """Exact Python replay of bpe.bpe_train's variant: word-freq table,
    spaced sequences, argmax pair by (count desc, pair asc), literal
    left-to-right non-overlapping replace."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.strip().lower()).split(" "):
            if w:
                wf[w] += 1
    seqs = {w: " " + " ".join(w) + " " for w in wf}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, f in wf.items():
            toks = seqs[w].strip().split(" ")
            for a, b in zip(toks, toks[1:]):
                pc[f"{a} {b}"] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = best[0].split(" ")
        merges.append((rank, left, right, best[1]))
        for w in seqs:
            seqs[w] = seqs[w].replace(
                f" {left} {right} ", f" {left}{right} "
            )
    return merges, seqs


def test_bpe_train_matches_exact_replay(spark):
    from time_series_db_spark.pipeline import bpe

    texts = [
        "low low low low lower lower newest newest newest",
        "widest widest new new lowest",
        "abcabc abc abc cab",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, wf = bpe.bpe_train(docs, n_merges=8)
    expect, eseqs = _bpe_replay(texts, 8)
    assert merges == expect
    got_seqs = {r["__w"]: r["__seq"] for r in wf.collect()}
    assert got_seqs == eseqs


def test_bpe_token_counts_match_replay(spark):
    from time_series_db_spark.pipeline import bpe

    texts = ["aa aa ab", "aa b ab ab"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe.bpe_token_counts(docs, n_merges=2).collect()
    }
    _, seqs = _bpe_replay(texts, 2)
    import re
    expect = {}
    for i, t in enumerate(texts):
        n = 0
        for w in re.sub(r"\s+", " ", t.strip().lower()).split(" "):
            if w:
                n += len(seqs[w].strip().split(" "))
        expect[i] = n
    assert out == expect


_bpe_texts = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5),
        min_size=1, max_size=8,
    ).map(" ".join),
    min_size=1, max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_bpe_texts)
def test_bpe_train_property_matches_replay(spark, texts):
    """For ANY corpus over a tiny alphabet (maximizing tie and chain
    cases), the distributed trainer must equal the exact sequential
    replay — merges, order, counts, and final sequences."""
    from time_series_db_spark.pipeline import bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, wf = bpe.bpe_train(docs, n_merges=5)
    expect, eseqs = _bpe_replay(texts, 5)
    assert merges == expect
    assert {r["__w"]: r["__seq"] for r in wf.collect()} == eseqs


def test_bpe_stops_early_when_no_pairs(spark):
    from time_series_db_spark.pipeline import bpe

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    merges, _ = bpe.bpe_train(docs, n_merges=10)
    assert merges == []  # single-char words have no adjacent pairs
    with pytest.raises(ValueError, match="n_merges"):
        bpe.bpe_train(docs, n_merges=0)


def test_bpe_plan_stays_jvm_side(spark):
    from time_series_db_spark.pipeline import bpe

    docs = spark.createDataFrame(
        [(1, "hello hello world")], "doc_id long, text string"
    )
    df = bpe.bpe_token_counts(docs, n_merges=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # per-word counts broadcast back


# ---------------------------------------------------------------------------
# service query-limit guards (circuit-breaker semantics)
# ---------------------------------------------------------------------------


def test_query_range_enforces_series_and_point_limits(spark):
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    end = EVENTS_MIN_TS + 10 * DEFAULT_STEP_MS

    # a wildcard fetch matches many series: a cap of 1 must trip
    with pytest.raises(service.QueryLimitError, match="max_series"):
        service.m3ql_query_range(
            src, "fetch name:*", start=EVENTS_MIN_TS, end=end,
            step=DEFAULT_STEP_MS, max_series=1,
        )
    with pytest.raises(service.QueryLimitError, match="max_points"):
        service.promql_query_range(
            src, "error", start=EVENTS_MIN_TS, end=end,
            step=DEFAULT_STEP_MS, max_points=1,
        )
    # a global sum is ONE series — generous caps pass through unchanged
    ok = service.m3ql_query_range(
        src, "fetch name:error | sum", start=EVENTS_MIN_TS, end=end,
        step=DEFAULT_STEP_MS, max_series=10, max_points=10_000,
    )
    assert ok["status"] == "success" and len(ok["data"]["result"]) == 1
    # default (no caps) stays un-probed and identical
    base = service.m3ql_query_range(
        src, "fetch name:error | sum", start=EVENTS_MIN_TS, end=end,
        step=DEFAULT_STEP_MS,
    )
    assert base["data"]["result"] == ok["data"]["result"]


def test_instant_query_enforces_limits(spark):
    from time_series_db_spark import service
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    src = EventsSource(spark, "/root/testdata/sf0.001")
    with pytest.raises(service.QueryLimitError, match="max_points"):
        service.promql_query(
            src, "error", EVENTS_MIN_TS + 2 * DEFAULT_STEP_MS,
            step=DEFAULT_STEP_MS, lookback_ms=2 * DEFAULT_STEP_MS,
            max_points=0,
        )


# ---------------------------------------------------------------------------
# asof tiebreak type validation
# ---------------------------------------------------------------------------


def test_asof_join_rejects_non_numeric_tiebreak(spark):
    from time_series_db_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(7, 100, 1.0)], "user_id long, ts long, value double"
    )
    right = spark.createDataFrame(
        [(7, 90, "a", 2.0)],
        "user_id long, ts long, tag string, value double",
    )
    with pytest.raises(TypeError, match="numeric"):
        asof_join(
            left, right, on=["user_id"], right_cols=["value"],
            tiebreak_col="tag",
        )
    # numeric tiebreak still accepted
    right2 = spark.createDataFrame(
        [(7, 90, 5, 2.0)],
        "user_id long, ts long, seq long, value double",
    )
    out = asof_join(
        left, right2, on=["user_id"], right_cols=["value"],
        tiebreak_col="seq",
    ).collect()
    assert out[0]["value_r"] == 2.0
