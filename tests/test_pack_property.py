"""Property tests for the round-5 batch-construction and histogram ops.

Directed tests pin specific cases; these check the structural invariants
that must hold for ANY input — packing conserves and tiles the token
stream, stratified sampling is an exact deterministic prefix, and the
histogram CDF is a monotone [0,1] staircase.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

#: property/fuzz/invariance sweep: the slow tier
pytestmark = pytest.mark.slow

_doc_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=1, max_value=40),  # token count
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_doc_lists, budget=st.sampled_from([8, 32, 128]))
def test_pack_sequences_invariants(spark, docs, budget):
    """For any corpus and budget: token totals are conserved, each
    shard's stream tiles [0, total) contiguously, and a document's block
    is exactly start_offset // budget."""
    from time_series_db_spark.pipeline.pack import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * n) for i, n in docs], ["doc_id", "text"]
    )
    rows = pack_sequences(df, budget=budget, n_shards=4).collect()
    assert len(rows) == len(docs)
    want_tokens = {i: n for i, n in docs}
    by_shard: dict = {}
    for r in rows:
        assert r.n_tokens == want_tokens[r.doc_id]
        assert r.pack_id == r.start_offset // budget
        by_shard.setdefault(r.shard, []).append((r.start_offset, r.n_tokens))
    for spans in by_shard.values():
        spans.sort()
        pos = 0
        for start, n in spans:
            assert start == pos  # contiguous tiling, no gaps or overlaps
            pos += n


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_docs=st.integers(min_value=1, max_value=80),
    n=st.sampled_from([1, 5, 20]),
)
def test_sample_stratified_prefix_property(spark, n_docs, n):
    """The n-sample of a stratum is exactly the first n of the md5-ranked
    full ordering — so growing n only EXTENDS a sample, never reshuffles
    it (the property that makes eval splits stable as quotas change)."""
    import hashlib

    from time_series_db_spark.pipeline.pack import sample_stratified

    df = spark.createDataFrame(
        [(i, "L" + str(i % 3)) for i in range(n_docs)], ["doc_id", "lang"]
    )
    got = {}
    for r in sample_stratified(df, "lang", n_per_stratum=n).collect():
        got.setdefault(r.stratum, []).append((r.sample_rank, r.doc_id))
    for stratum, picked in got.items():
        members = [i for i in range(n_docs) if "L" + str(i % 3) == stratum]
        full = sorted(members, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        want = [(k + 1, d) for k, d in enumerate(full[:n])]
        assert sorted(picked) == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=399), min_size=1, max_size=12
    ),
    thresholds=st.lists(
        st.integers(min_value=-50, max_value=500),
        min_size=1, max_size=4, unique=True,
    ),
)
def test_histogram_cdf_monotone_bounded(spark, values, thresholds):
    """For any value set and thresholds: CDF values lie in [0,1], are
    non-decreasing in the threshold, and hit 1 at/after the top bucket."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    q = (
        " | ".join(
            f"mockFetch {v} name:s{i}" for i, v in enumerate(values)
        )
        + " | toHistogramLinearBuckets 0 50 8 | histogramCDF bucketid bucket "
        + " ".join(str(t) for t in sorted(thresholds))
    )
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = execute(
        q, src, EVENTS_MIN_TS, EVENTS_MIN_TS + DEFAULT_STEP_MS, DEFAULT_STEP_MS
    )
    got = sorted(
        (float(r.labels["histogramCDF"].removeprefix("le_")), r.value)
        for r in sf.df.collect()
    )
    assert got, q
    prev = 0.0
    for _, v in got:
        assert 0.0 <= v <= 1.0
        assert v >= prev - 1e-12
        prev = v
    top_threshold, top_v = got[-1]
    if top_threshold >= 400:  # ≥ the top bucket's upper bound
        assert top_v == pytest.approx(1.0)


_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
_texts = st.lists(
    st.lists(_word, min_size=0, max_size=40).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_texts, k=st.sampled_from([3, 5, 16]))
def test_exact_substring_dedup_invariants(spark, texts, k):
    """Random corpora vs an exact in-Python simulation: Σ n_kept equals
    the number of DISTINCT chunks, Σ n_chunks the total, and every
    reassembled text equals the global-first-occurrence replay in
    (doc_id, chunk_idx) order."""
    from time_series_db_spark.pipeline.dedup import exact_substring_dedup

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {r.doc_id: r for r in exact_substring_dedup(df, chunk_words=k).collect()}

    def chunked(t):
        w = t.split(" ")
        return [" ".join(w[i : i + k]) for i in range(0, max(len(w), 1), k)]

    all_chunks = [c for t in texts for c in chunked(t)]
    assert sum(r.n_kept for r in out.values()) == len(set(all_chunks))
    assert sum(r.n_chunks for r in out.values()) == len(all_chunks)
    # exact in-Python simulation: global first-occurrence by (doc, idx)
    seen: set[str] = set()
    for i, t in enumerate(texts):
        kept = []
        for c in chunked(t):
            if c not in seen:
                seen.add(c)
                kept.append(c)
        assert out[i].text_clean == " ".join(kept), (i, t)
        assert out[i].n_kept == len(kept)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    windows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),   # window index (gaps!)
            st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        ),
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    ),
    threshold=st.sampled_from([25.0, 50.0, 75.0]),
    k=st.sampled_from([1, 2, 3]),
)
def test_alert_state_machine_matches_replay(spark, windows, threshold, k):
    """Random window sequences (with gaps) vs an exact in-Python replay
    of the pending/firing contract: state at window w is firing iff the
    w-ending run of CONSECUTIVE breached windows has length >= k."""
    from time_series_db_spark.streaming.rules import evaluate_alert_frame

    T0 = 1_704_067_200_000
    M5 = 300_000
    rows = [
        ("name:r", {"name": "r"}, T0 + i * M5, v, 0)
        for i, v in windows
    ]
    df = spark.createDataFrame(
        rows,
        "series_key string, labels map<string,string>, ts long, "
        "value double, block long",
    )
    spec = {
        "alert": "A",
        "rule": {"record": "r", "agg": "sum", "resolution_ms": M5},
        "op": ">", "threshold": threshold, "for_windows": k,
    }
    got = {
        r["ts"]: r["labels"]["alertstate"]
        for r in evaluate_alert_frame(df, spec).collect()
    }
    # exact replay
    by_idx = dict(windows)
    want = {}
    for i in sorted(by_idx):
        if not by_idx[i] > threshold:
            continue
        run = 0
        j = i
        while j in by_idx and by_idx[j] > threshold:
            run += 1
            j -= 1
        want[T0 + i * M5] = "firing" if run >= k else "pending"
    assert got == want


_M3_STAGES = st.sampled_from([
    "abs", "sqrt", "log", "scale 2.5", "offset -1", "round",
    "perSecond", "derivative", "integral", "changed", "isNonNull",
    "keepLastValue", "transformNull 0", "removeEmpty",
    "moving 2h avg", "moving 3h max", "summarize 2h sum",
    "sum region", "avg region", "max name", "count region",
    "range region", "stdev region",
    "sort avg", "topK 3 avg", "head 2", "tail 2",
    "alias foo", "aliasByTags region", "showTags",
    ">= 0.5", "removeAboveValue 90",
    "excludeByTag region r1", "percentileOfSeries 50",
    "nonNegativeDerivative", "timestamp",
])


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stages=st.lists(_M3_STAGES, min_size=0, max_size=4))
def test_m3ql_random_pipeline_never_crashes(spark, stages):
    """Grammar fuzz: any chain of valid stages after a fetch must parse,
    plan, build, and execute to the canonical sample schema — no stage
    combination may crash the front-end or produce a malformed frame."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.model import SAMPLE_COLS
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    q = " | ".join(["fetch name:error"] + list(stages))
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = execute(
        q, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 6 * DEFAULT_STEP_MS,
        DEFAULT_STEP_MS,
    )
    assert [c for c in sf.df.columns if not c.startswith("__")] == SAMPLE_COLS
    rows = sf.df.limit(50).collect()
    for r in rows:
        assert r["series_key"] is not None and r["ts"] is not None


_M3_BINARY = st.sampled_from([
    "divide (fetch name:click | sum region)",
    "subtract (fetch name:click | moving 2h avg)",
    "asPercent (fetch name:{error,click} | sum region)",
    "intersect (fetch name:error | head 3)",
    "fetch name:click | scale 2",   # mid-pipeline fetch = union
    "fallbackSeries 0.5",
])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pre=st.lists(_M3_STAGES, min_size=0, max_size=2),
    binary=_M3_BINARY,
    post=st.lists(_M3_STAGES, min_size=0, max_size=2),
)
def test_m3ql_binary_pipeline_never_crashes(spark, pre, binary, post):
    """Fuzz with a binary stage (sub-pipeline argument) spliced between
    random stage chains — the matching chain must cope with whatever
    label shape the upstream chain produced."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.model import SAMPLE_COLS
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    q = " | ".join(["fetch name:error", *pre, binary, *post])
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = execute(
        q, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 4 * DEFAULT_STEP_MS,
        DEFAULT_STEP_MS,
    )
    assert [c for c in sf.df.columns if not c.startswith("__")] == SAMPLE_COLS
    sf.df.limit(20).collect()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    body_a=st.lists(_M3_STAGES, min_size=0, max_size=2),
    body_b=st.lists(_M3_STAGES, min_size=0, max_size=2),
    combiner=st.sampled_from(["divide", "subtract", "asPercent", "intersect"]),
    post=st.lists(_M3_STAGES, min_size=0, max_size=1),
)
def test_m3ql_macros_never_crash(spark, body_a, body_b, combiner, post):
    """Fuzz the macro surface: two random macro bodies combined by a
    binary stage plus an optional tail — CSE, reference reuse, and the
    matching chain must survive any body shape."""
    from time_series_db_spark.lang.m3.builder import execute
    from time_series_db_spark.model import SAMPLE_COLS
    from time_series_db_spark.sources import DEFAULT_STEP_MS, EVENTS_MIN_TS
    from time_series_db_spark.sources.m3source import EventsSource

    a = " | ".join(["fetch name:error", *body_a])
    b = " | ".join(["fetch name:click", *body_b])
    q = f"a = {a};b = {b};a | {combiner}(b)" + (
        " | " + " | ".join(post) if post else ""
    )
    src = EventsSource(spark, "/root/testdata/sf0.001")
    sf = execute(
        q, src, EVENTS_MIN_TS, EVENTS_MIN_TS + 4 * DEFAULT_STEP_MS,
        DEFAULT_STEP_MS,
    )
    assert [c for c in sf.df.columns if not c.startswith("__")] == SAMPLE_COLS
    sf.df.limit(20).collect()


def _lm_replay(docs, vocab_size, lam):
    """Exact Python replay of text.lm_perplexity's algorithm."""
    import math
    import re
    from collections import Counter

    tok_by_doc = {}
    for doc_id, raw in docs:
        norm = re.sub(r"\s+", " ", raw.strip().lower())
        toks = [t for t in norm.split(" ") if t]
        if toks:
            tok_by_doc[doc_id] = toks
    counts = Counter(t for ts in tok_by_doc.values() for t in ts)
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :vocab_size
        ]
    )
    mapped = {
        d: [t if t in vocab else "<unk>" for t in ts]
        for d, ts in tok_by_doc.items()
    }
    uni, ctx, bi = Counter(), Counter(), Counter()
    total = 0
    for ts in mapped.values():
        prev = "<s>"
        for w in ts:
            uni[w] += 1
            ctx[prev] += 1
            bi[(prev, w)] += 1
            total += 1
            prev = w
    out = {}
    for d, ts in mapped.items():
        prev, logps = "<s>", []
        for w in ts:
            p = lam * (bi[(prev, w)] / ctx[prev]) + (1.0 - lam) * (
                uni[w] / total
            )
            logps.append(math.log(p))
            prev = w
        out[d] = (len(ts), math.exp(-sum(logps) / len(logps)))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
                min_size=0,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    vocab_size=st.sampled_from([2, 4, 100]),
)
def test_lm_perplexity_matches_exact_replay(spark, docs, vocab_size):
    """For ANY corpus the distributed LM training+scoring must equal an
    exact sequential replay of the same algorithm (vocab tie-breaks,
    <s>/<unk> handling, interpolation) to float tolerance — including
    single-token docs, all-OOV docs under a tiny vocab, and empty docs
    (absent from the output)."""
    from time_series_db_spark.pipeline.text import lm_perplexity

    rows = [(d, " ".join(ts)) for d, ts in docs]
    got = {
        r["doc_id"]: (r["n_tokens"], r["perplexity"])
        for r in lm_perplexity(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            vocab_size=vocab_size,
            lam=0.9,
        ).collect()
    }
    want = _lm_replay(rows, vocab_size, 0.9)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0]
        assert got[d][1] == pytest.approx(want[d][1], rel=1e-9)


# ---------------------------------------------------------------------------
# as-of join vs exact replay (operators/temporal.py)
# ---------------------------------------------------------------------------

_asof_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=200),    # ts (dense -> many ties)
        st.integers(min_value=0, max_value=1000),   # value
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_asof_events, right=_asof_events,
       tol=st.one_of(st.none(), st.integers(min_value=0, max_value=80)))
def test_asof_join_matches_sequential_replay(spark, left, right, tol):
    """For ANY event sets (including heavy timestamp ties), the
    distributed union-trick as-of join equals the obvious sequential
    replay: latest right row at-or-before each left row on the same
    key, greatest event-id winning ties, tolerance nulling stale
    matches."""
    from time_series_db_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t, float(v)) for i, (k, t, v) in enumerate(left)],
        "event_id long, user_id long, ts long, value double",
    )
    rdf = spark.createDataFrame(
        [(i, k, t, float(v)) for i, (k, t, v) in enumerate(right)],
        "event_id long, user_id long, ts long, value double",
    )
    got = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            ldf, rdf, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
            tolerance_ms=tol,
        ).collect()
    }
    expect = {}
    for i, (k, t, _v) in enumerate(left):
        best = None  # (ts, event_id, value)
        for j, (rk, rt, rv) in enumerate(right):
            if rk == k and rt <= t and (best is None or (rt, j) > best[:2]):
                best = (rt, j, float(rv))
        if best is not None and (tol is None or t - best[0] <= tol):
            expect[i] = (best[0], best[2])
        else:
            expect[i] = (None, None)
    assert got == expect
