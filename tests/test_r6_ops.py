"""Unit tests for the round-6 retrieval / importance operators
(pipeline/retrieval.py): BM25 hand-check, DSIR weight signs,
temperature-mixture quota arithmetic."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_matches_hand_computation(spark):
    from time_series_db_spark.pipeline.retrieval import bm25_topk

    rows = [
        (1, "spark join join window", "en"),
        (2, "spark table scan scan scan scan", "en"),
        (3, "sort merge batch", "en"),
    ]
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in bm25_topk(_docs(spark, rows), "join spark", k=3).collect()
    }

    # replay: N=3, avgdl=(4+6+3)/3; df(join)=1, df(spark)=2
    k1, b = 1.2, 0.75
    n, avgdl = 3.0, 13.0 / 3.0

    def idf(dfreq):
        return math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def part(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = idf(1) * part(2, 4) + idf(2) * part(1, 4)
    exp2 = idf(2) * part(1, 6)
    assert got[1][0] == pytest.approx(exp1, rel=1e-12)
    assert got[2][0] == pytest.approx(exp2, rel=1e-12)
    assert 3 not in got  # no query term → no posting → no row
    assert got[1][1] == 1 and got[2][1] == 2  # ranked by score desc

    with pytest.raises(ValueError, match="no terms"):
        bm25_topk(_docs(spark, rows), "   ")
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(_docs(spark, rows), "spark", k=0)


def test_bm25_rank_cut_and_tiebreak(spark):
    from time_series_db_spark.pipeline.retrieval import bm25_topk

    # identical docs → identical scores → doc_id tie-break, k-cut exact
    rows = [(i, "alpha beta", "en") for i in range(1, 6)]
    got = bm25_topk(_docs(spark, rows), "alpha", k=3).collect()
    assert [(r["doc_id"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (1, 1), (2, 2), (3, 3)
    ]


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_weights_separate_target_from_raw(spark):
    from time_series_db_spark.pipeline.retrieval import dsir_log_weights

    # target (en) docs speak 'aaa', the rest speak 'bbb': an 'aaa' doc
    # must score positive (target-like), a 'bbb' doc negative
    rows = (
        [(i, "aaa aaa aaa", "en") for i in range(4)]
        + [(10 + i, "bbb bbb bbb", "fr") for i in range(4)]
    )
    got = {
        r["doc_id"]: r["weight"]
        for r in dsir_log_weights(
            _docs(spark, rows), F.col("lang") == "en", n_buckets=32
        ).collect()
    }
    assert got[0] > 0 and got[10] < 0
    # per-token additivity: 3 identical tokens → weight = 3 × one-token lr
    assert got[0] == pytest.approx(3 * (got[0] / 3), rel=1e-12)

    with pytest.raises(ValueError, match="n_buckets"):
        dsir_log_weights(_docs(spark, rows), F.col("lang") == "en", n_buckets=0)


def test_dsir_weight_replay_exact(spark):
    from time_series_db_spark.pipeline.retrieval import dsir_log_weights
    from time_series_db_spark.pipeline.textprep import hash64

    rows = [(1, "x y", "en"), (2, "x x", "fr"), (3, "y z z", "en")]
    B = 16
    buckets = {
        r["token"]: r["b"]
        for r in spark.createDataFrame(
            [("x",), ("y",), ("z",)], "token string"
        ).select("token", (hash64(F.col("token")) % B).alias("b")).collect()
    }
    # replay count tables: target = en docs {x,y}, {y,z,z}; raw = all
    c_t: dict[int, int] = {}
    c_r: dict[int, int] = {}
    for tok, tgt in [("x", 1), ("y", 1), ("x", 0), ("x", 0), ("y", 1), ("z", 1), ("z", 1)]:
        bkt = buckets[tok]
        c_r[bkt] = c_r.get(bkt, 0) + 1
        if tgt:
            c_t[bkt] = c_t.get(bkt, 0) + 1
    t_t, t_r = sum(c_t.values()), sum(c_r.values())

    def lr(tok):
        bkt = buckets[tok]
        return math.log((c_t.get(bkt, 0) + 1) / (t_t + B)) - math.log(
            (c_r.get(bkt, 0) + 1) / (t_r + B)
        )

    got = {
        r["doc_id"]: (r["n_tokens"], r["weight"])
        for r in dsir_log_weights(
            _docs(spark, rows), F.col("lang") == "en", n_buckets=B
        ).collect()
    }
    assert got[1] == (2, pytest.approx(lr("x") + lr("y"), rel=1e-12))
    assert got[2] == (2, pytest.approx(2 * lr("x"), rel=1e-12))
    assert got[3] == (3, pytest.approx(lr("y") + 2 * lr("z"), rel=1e-12))


# ---------------------------------------------------------------------------
# temperature mixture
# ---------------------------------------------------------------------------


def test_sample_temperature_flattens_head(spark):
    from time_series_db_spark.pipeline.retrieval import sample_temperature

    # 90 'en' docs vs 10 'fr' docs; alpha=0.5 → fr share rises from 10%
    # toward sqrt-proportional (~25%), en falls — and quotas sum exactly
    rows = [(i, f"doc {i}", "en") for i in range(90)] + [
        (100 + i, f"doc {i}", "fr") for i in range(10)
    ]
    got = sample_temperature(_docs(spark, rows), alpha=0.5, budget=40).collect()
    by_lang: dict[str, int] = {}
    for r in got:
        by_lang[r["stratum"]] = by_lang.get(r["stratum"], 0) + 1
    assert sum(by_lang.values()) == 40
    assert by_lang["fr"] > 4  # raw share would give exactly 4
    # exact largest-remainder check: w_en=sqrt(90), w_fr=sqrt(10)
    w_en, w_fr = 90 ** 0.5, 10 ** 0.5
    q_fr = 40 * w_fr / (w_en + w_fr)
    assert by_lang["fr"] in (int(q_fr), int(q_fr) + 1)

    with pytest.raises(ValueError, match="alpha"):
        sample_temperature(_docs(spark, rows), alpha=1.5, budget=10)


def test_sample_temperature_alpha_one_is_proportional(spark):
    from time_series_db_spark.pipeline.pack import apportion
    from time_series_db_spark.pipeline.retrieval import sample_temperature

    rows = [(i, "t", "en") for i in range(30)] + [
        (100 + i, "t", "de") for i in range(10)
    ]
    got = sample_temperature(_docs(spark, rows), alpha=1.0, budget=20).collect()
    by_lang: dict[str, int] = {}
    for r in got:
        by_lang[r["stratum"]] = by_lang.get(r["stratum"], 0) + 1
    assert by_lang == apportion({"en": 30.0, "de": 10.0}, 20) == {
        "en": 15, "de": 5,
    }


# ---------------------------------------------------------------------------
# cross-corpus dedup
# ---------------------------------------------------------------------------


def test_cross_corpus_dedup_flags_and_witnesses(spark):
    from time_series_db_spark.pipeline.dedup import cross_corpus_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    ref = _docs(
        spark,
        [
            (100, base, "en"),
            (101, base, "en"),                      # second identical ref
            (102, "completely different reference words here", "en"),
        ],
    )
    inc = _docs(
        spark,
        [
            (1, base, "en"),                        # exact dup of 100+101
            (2, "unrelated incoming text with no match at all", "en"),
        ],
    )
    got = {
        r["doc_id"]: (r["ref_id"], r["jaccard"], r["n_matches"])
        for r in cross_corpus_dedup(inc, ref, threshold=0.8).collect()
    }
    # doc 1 matches both identical refs: min-id witness, J=1, 2 matches
    assert got[1] == (100, pytest.approx(1.0), 2)
    assert 2 not in got  # clean doc produces no row (keep = anti-join)


def test_cross_corpus_dedup_no_same_side_pairs(spark):
    from time_series_db_spark.pipeline.dedup import cross_corpus_dedup

    # duplicates WITHIN incoming must not flag each other — only
    # reference matches count
    inc = _docs(spark, [(1, "same text repeated here ok", "en"),
                        (2, "same text repeated here ok", "en")])
    ref = _docs(spark, [(100, "nothing like the incoming", "en")])
    assert cross_corpus_dedup(inc, ref, threshold=0.5).count() == 0


# ---------------------------------------------------------------------------
# exposition format source/sink
# ---------------------------------------------------------------------------


def _series_df(spark, rows):
    from time_series_db_spark.model import series_key_expr

    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    return df.withColumn("series_key", series_key_expr()).select(
        "series_key", "labels", "ts", "value"
    )


def _roundtrip(spark, rows):
    from time_series_db_spark.model import SeriesFrame
    from time_series_db_spark.sources.exposition import (
        format_exposition,
        parse_exposition,
    )

    df = _series_df(spark, rows)
    sf = SeriesFrame(df, 1000, 0, 10**15)
    back = parse_exposition(format_exposition(sf))
    def canon(frame):
        return sorted(
            repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
            for r in frame.collect()
        )
    return canon(df), canon(back)


def test_exposition_roundtrip_adversarial_labels(spark):
    rows = [
        ({"name": "m", "a": 'quo"te'}, 1, 1.0),
        ({"name": "m", "a": "back\\slash"}, 2, 2.0),
        ({"name": "m", "a": "new\nline"}, 3, 3.0),
        ({"name": "m", "a": "\\n"}, 4, 4.0),          # literal backslash-n
        ({"name": "m", "a": "\\\\n\\"}, 5, 5.0),      # escape-chain torture
        ({"name": "m", "a": 'mix\\"\n\\n"'}, 6, 6.0),
        ({"name": "m:sub_total", "b": ""}, 7, -1.5e-7),
        ({"name": "up"}, 8, float("inf")),
        ({"name": "up"}, 9, float("-inf")),
        ({"name": "up"}, 10, float("nan")),
    ]
    a, b = _roundtrip(spark, rows)
    assert a == b


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.text(
            alphabet=st.sampled_from(list('ab\\"\n_ ')), max_size=8
        ),
        min_size=1,
        max_size=4,
    )
)
def test_exposition_roundtrip_property(spark, vals):
    """format → parse is the identity for ANY label values (escape
    handling is exactly inverse, including trailing backslashes and
    embedded quotes/newlines)."""
    rows = [
        ({"name": "m", f"l{i}": v}, 100 + i, float(i))
        for i, v in enumerate(vals)
    ]
    a, b = _roundtrip(spark, rows)
    assert a == b


def test_exposition_parser_skips_comments_and_garbage(spark):
    from time_series_db_spark.sources.exposition import parse_exposition

    lines = spark.createDataFrame(
        [
            ("# HELP cpu Total CPU.",),
            ("# TYPE cpu counter",),
            ("",),
            ("   ",),
            ('cpu{host="a"} 1.5 1000',),
            ("cpu{} 2.5 2000",),
            ("cpu{host='bad_quotes'} 1 1",),   # malformed → dropped
            ("not a metric line at all",),
            ('cpu{host="c"} +Inf',),           # no timestamp → ts NULL
        ],
        "line string",
    )
    got = parse_exposition(lines).collect()
    by_key = {tuple(sorted(dict(r["labels"]).items())): r for r in got}
    assert len(got) == 3
    assert by_key[(("host", "a"), ("name", "cpu"))]["value"] == 1.5
    assert by_key[(("name", "cpu"),)]["ts"] == 2000
    c = by_key[(("host", "c"), ("name", "cpu"))]
    assert c["ts"] is None and c["value"] == float("inf")


# ---------------------------------------------------------------------------
# Influx line protocol source/sink
# ---------------------------------------------------------------------------


def _lp_roundtrip(spark, rows):
    from time_series_db_spark.sources.lineprotocol import (
        format_line_protocol,
        parse_line_protocol,
    )

    df = _series_df(spark, rows)
    back = parse_line_protocol(format_line_protocol(df))
    def canon(frame):
        return sorted(
            repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
            for r in frame.collect()
        )
    return canon(df), canon(back)


def test_line_protocol_roundtrip_adversarial_tags(spark):
    rows = [
        ({"name": "cpu", "host": "a b"}, 1, 1.5),          # space in value
        ({"name": "cpu", "host": "a,b=c"}, 2, 2.5),        # comma + equals
        ({"name": "cpu", "host": "back\\slash"}, 3, 3.5),
        ({"name": "cpu", "host": "trail\\"}, 4, 4.5),      # trailing backslash
        ({"name": "cpu", "host": "\\,"}, 5, 5.5),          # backslash + comma
        ({"name": "disk io", "path": "/x=1,y\\"}, 6, -1e-7),  # measurement space
        ({"name": "up"}, 7, 42.0),                         # no tags
    ]
    a, b = _lp_roundtrip(spark, rows)
    assert a == b


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.text(alphabet=st.sampled_from(list("ab\\,= _")), max_size=8),
        min_size=1,
        max_size=3,
    )
)
def test_line_protocol_roundtrip_property(spark, vals):
    """format → parse is the identity for ANY tag values — the escape
    grammar (backslash, comma, equals, space) inverts exactly,
    including trailing backslashes and escape-lookalike sequences."""
    rows = [
        ({"name": "m", f"t{i}": v}, 100 + i, float(i))
        for i, v in enumerate(vals)
    ]
    a, b = _lp_roundtrip(spark, rows)
    assert a == b


def test_line_protocol_parses_multi_field_and_skips_nonnumeric(spark):
    from time_series_db_spark.sources.lineprotocol import parse_line_protocol

    lines = spark.createDataFrame(
        [
            ("# a comment",),
            ("",),
            ("cpu,host=a usage=0.5,idle=99i,label=\"web\",ok=true 1000000",),
            ("mem value=7.25 2000000",),
            ("bad_line_without_sections",),
            ("bad 1.5 notanumber",),
        ],
        "line string",
    )
    got = parse_line_protocol(lines).collect()
    by_name = {dict(r["labels"])["name"]: r for r in got}
    # numeric fields only: usage (float) + idle (integer-suffix) + mem
    assert sorted(by_name) == ["cpu_idle", "cpu_usage", "mem"]
    assert by_name["cpu_usage"]["value"] == 0.5
    assert by_name["cpu_idle"]["value"] == 99.0
    assert dict(by_name["cpu_usage"]["labels"])["host"] == "a"
    assert by_name["cpu_usage"]["ts"] == 1    # 1e6 ns -> 1 ms
    assert by_name["mem"]["value"] == 7.25 and by_name["mem"]["ts"] == 2


def test_streaming_exposition_scraper_to_query(spark, tmp_path):
    """Scrape files land in a dir → streaming parse → metrics store →
    readable through read_metrics with LWW dedup, same contract as the
    JSON ingest leg."""
    from time_series_db_spark.sources.exposition import (
        start_exposition_ingest,
    )
    from time_series_db_spark.streaming.ingest import read_metrics

    T0 = 1_704_067_200_000
    src = tmp_path / "scrapes"
    src.mkdir()
    (src / "s1.txt").write_text(
        f'error{{region="east"}} 20.0 {T0}\n'
        f'error{{region="east"}} 30.0 {T0 + 60_000}\n'
        "# comment\n"
        f'error{{region="east"}} 99.0 {T0}\n'   # duplicate (series, ts)
        f'error{{region="west"}} 7.0\n'          # no ts → dropped
    )
    store = str(tmp_path / "metrics")
    q = start_exposition_ingest(
        spark, str(src), store,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    rows = read_metrics(spark, store).collect()
    got = {(r["series_key"], r["ts"]): r["value"] for r in rows}
    assert len(got) == 2
    assert got[("name:error,region:east", T0)] in (20.0, 99.0)  # ANY_WINS
    assert got[("name:error,region:east", T0 + 60_000)] == 30.0


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def test_chunk_documents_windows_and_tail_rule(spark):
    from time_series_db_spark.pipeline.pack import chunk_documents

    text10 = " ".join(f"w{i}" for i in range(10))
    rows = [
        (1, text10, "en"),       # n=10, size=8, stride=4 → starts 0, 4
        (2, "a b", "en"),        # n=2 < size → one short chunk
        (3, "", "en"),           # empty → no rows
    ]
    got = sorted(
        (
            (r["doc_id"], r["chunk_idx"], r["start_token"], r["n_tokens"],
             r["chunk_text"])
            for r in chunk_documents(
                _docs(spark, rows), chunk_tokens=8, overlap=4
            ).collect()
        )
    )
    # doc 1: window@0 covers 0-7; window@4 covers 4-9 (6 tokens, adds
    # 8-9); window@8 would add nothing beyond @4's reach +8=12 ≥ 10 →
    # skipped by the tail rule
    assert got == [
        (1, 0, 0, 8, " ".join(f"w{i}" for i in range(8))),
        (1, 1, 4, 6, " ".join(f"w{i}" for i in range(4, 10))),
        (2, 0, 0, 2, "a b"),
    ]

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(_docs(spark, rows), chunk_tokens=8, overlap=8)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(_docs(spark, rows), chunk_tokens=0)


def test_chunk_documents_overlap_consistency(spark):
    """Consecutive chunks share exactly `overlap` tokens, and the chunk
    stream reconstructs the document (each chunk's suffix beyond the
    overlap is new text)."""
    from time_series_db_spark.pipeline.pack import chunk_documents

    toks = [f"t{i}" for i in range(50)]
    rows = [(1, " ".join(toks), "en")]
    chunks = sorted(
        (r["chunk_idx"], r["start_token"], r["chunk_text"].split(" "))
        for r in chunk_documents(
            _docs(spark, rows), chunk_tokens=16, overlap=6
        ).collect()
    )
    stride = 10
    rebuilt = list(chunks[0][2])
    for idx, start, ctoks in chunks[1:]:
        assert start == idx * stride
        assert rebuilt[start:] [:6] == ctoks[:6]  # shared overlap
        rebuilt.extend(ctoks[6:])
    assert rebuilt == toks


def test_parsers_drop_duplicate_label_keys_instead_of_throwing(spark):
    """A duplicated label/tag key (or a tag named 'name') is malformed
    input and must DROP the line — under the default
    spark.sql.mapKeyDedupPolicy=EXCEPTION a naive map_from_arrays would
    crash the whole scan on one bad line."""
    from time_series_db_spark.sources.exposition import parse_exposition
    from time_series_db_spark.sources.lineprotocol import parse_line_protocol

    exp = spark.createDataFrame(
        [
            ('cpu{a="1",a="2"} 1 1000',),     # dup key → dropped
            ('cpu{name="x"} 1 1000',),        # label named name → dropped
            ('cpu{a="1"} 2 2000',),           # fine
        ],
        "line string",
    )
    got = parse_exposition(exp).collect()
    assert len(got) == 1 and got[0]["value"] == 2.0

    lp = spark.createDataFrame(
        [
            ("cpu,a=1,a=2 value=1 1000000",),  # dup tag → dropped
            ("cpu,name=x value=1 1000000",),   # tag named name → dropped
            ("cpu,a=1 value=2 2000000",),      # fine
        ],
        "line string",
    )
    got = parse_line_protocol(lp).collect()
    assert len(got) == 1 and got[0]["value"] == 2.0


# ---------------------------------------------------------------------------
# Graphite plaintext source/sink
# ---------------------------------------------------------------------------


def test_graphite_roundtrip_and_strictness(spark):
    from time_series_db_spark.sources.graphite import (
        format_graphite,
        parse_graphite,
    )

    rows = [
        ({"name": "sys.cpu", "host": "web-1", "dc": "east"}, 1000, 1.5),
        ({"name": "sys.cpu"}, 2000, -2.5e-3),
    ]
    df = _series_df(spark, rows)
    back = parse_graphite(format_graphite(df))
    a = sorted(
        repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
        for r in df.collect()
    )
    b = sorted(
        repr((sorted(dict(r["labels"]).items()), r["ts"], r["value"]))
        for r in back.collect()
    )
    assert a == b

    # the protocol has NO escaping: a ';' in a value is unrepresentable —
    # strict raises, lenient drops the row and keeps the clean one
    bad = _series_df(
        spark, [({"name": "m", "t": "a;b"}, 1000, 1.0),
                ({"name": "m", "t": "ok"}, 2000, 2.0)]
    )
    with pytest.raises(Exception, match="cannot represent"):
        format_graphite(bad).collect()
    lenient = format_graphite(bad, strict=False).collect()
    assert [r["line"] for r in lenient] == ["m;t=ok 2.0 2"]


def test_graphite_parser_skips_garbage_and_dups(spark):
    from time_series_db_spark.sources.graphite import parse_graphite

    lines = spark.createDataFrame(
        [
            ("# comment",),
            ("",),
            ("sys.cpu;host=a 1.5 1000",),
            ("sys.cpu 2.5 2000",),
            ("sys.cpu;host=a;host=b 1 1",),  # dup tag key → dropped
            ("sys.cpu;name=x 1 1",),          # tag named name → dropped
            ("nope nope nope",),              # non-numeric value → dropped
            ("bad;=v 1 1",),                  # empty tag name → malformed
        ],
        "line string",
    )
    got = parse_graphite(lines).collect()
    by = {tuple(sorted(dict(r["labels"]).items())): r for r in got}
    assert len(got) == 2
    assert by[(("host", "a"), ("name", "sys.cpu"))]["ts"] == 1_000_000
    assert by[(("name", "sys.cpu"),)]["value"] == 2.5


# ---------------------------------------------------------------------------
# temporal joins (operators/temporal.py)
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )


def test_asof_join_picks_latest_at_or_before(spark):
    from time_series_db_spark.operators.temporal import asof_join

    left = _events(spark, [(1, 7, 100, 1.0), (2, 7, 50, 2.0), (3, 8, 10, 3.0)])
    right = _events(spark, [(10, 7, 40, 4.0), (11, 7, 100, 5.0), (12, 9, 5, 6.0)])
    out = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
        ).collect()
    }
    assert out[1] == (100, 5.0)  # exactly-simultaneous right row matches
    assert out[2] == (40, 4.0)   # strictly-before row
    assert out[3] == (None, None)  # user 8 has no right rows at all


def test_asof_join_tiebreak_and_tolerance(spark):
    from time_series_db_spark.operators.temporal import asof_join

    left = _events(spark, [(1, 7, 100, 0.0), (2, 7, 500, 0.0)])
    # two right rows at the same instant: greatest tiebreak wins
    right = _events(spark, [(10, 7, 90, 1.0), (11, 7, 90, 2.0)])
    out = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
            tolerance_ms=50,
        ).collect()
    }
    assert out[1] == (90, 2.0)
    assert out[2] == (None, None)  # 410 ms back is beyond tolerance


def test_asof_join_validates_inputs(spark):
    from time_series_db_spark.operators.temporal import asof_join

    df = _events(spark, [(1, 7, 1, 1.0)])
    with pytest.raises(ValueError, match="equi-key"):
        asof_join(df, df, on=[], right_cols=["value"])
    with pytest.raises(ValueError, match="right_cols"):
        asof_join(df, df, on=["user_id"], right_cols=[])
    with pytest.raises(ValueError, match="lacks"):
        asof_join(df, df, on=["user_id"], right_cols=["nope"])


def test_range_join_radius_inclusive_and_bucket_edges(spark):
    from time_series_db_spark.operators.temporal import range_join

    probe = _events(spark, [(1, 7, 1000, 0.0)])
    build = _events(
        spark,
        [
            (10, 7, 900, 1.0),    # inside, previous bucket
            (11, 7, 1100, 2.0),   # inside, next bucket
            (12, 7, 1000 + 100, 3.0),
            (13, 7, 1000 - 101, 4.0),  # exactly outside radius 100
            (14, 8, 1000, 5.0),   # other key
        ],
    )
    got = sorted(
        (r.gap_ms_n, r.value_n)
        for r in range_join(
            probe, build, on=["user_id"], ts_col="ts",
            radius_ms=100, build_cols=["value"],
        ).collect()
    )
    assert got == [(-100, 1.0), (100, 2.0), (100, 3.0)]
    with pytest.raises(ValueError, match="radius"):
        range_join(probe, build, on=["user_id"], radius_ms=0, build_cols=[])


def test_funnel_order_and_chain_break(spark):
    from time_series_db_spark.operators.temporal import funnel

    rows = [
        # user 1: full ordered funnel
        (1, 1, 10, "signup"), (2, 1, 20, "click"), (3, 1, 30, "purchase"),
        # user 2: purchase BEFORE the click step -> chain stops at click
        (4, 2, 10, "signup"), (5, 2, 40, "click"), (6, 2, 30, "purchase"),
        # user 3: click precedes signup -> only step 1
        (7, 3, 50, "signup"), (8, 3, 40, "click"),
        # user 4: no signup -> excluded entirely
        (9, 4, 5, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    out = {
        r.user: (r.signup_ts, r.click_ts, r.purchase_ts, r.steps_completed)
        for r in funnel(df, ["signup", "click", "purchase"]).collect()
    }
    assert out == {
        1: (10, 20, 30, 3),
        2: (10, 40, None, 2),
        3: (50, None, None, 1),
    }
    with pytest.raises(ValueError, match="two steps"):
        funnel(df, ["signup"])


def test_pmi_bigrams_hand_computation(spark):
    from time_series_db_spark.pipeline.text import pmi_bigrams

    # corpus: "a b a b" + "a b c" -> bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    # unigrams: a=3, b=3, c=1, N=7
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = {
        (r.w1, r.w2): (r.c_xy, r.pmi)
        for r in pmi_bigrams(docs, min_count=1).collect()
    }
    assert set(got) == {("a", "b"), ("b", "a"), ("b", "c")}
    c, p = got[("a", "b")]
    assert c == 3 and p == pytest.approx(math.log(3 * 7 / (3 * 3)))
    c, p = got[("b", "c")]
    assert c == 1 and p == pytest.approx(math.log(1 * 7 / (3 * 1)))
    # min_count filters the singletons
    assert set(
        (r.w1, r.w2)
        for r in pmi_bigrams(docs, min_count=2).collect()
    ) == {("a", "b")}
    with pytest.raises(ValueError, match="min_count"):
        pmi_bigrams(docs, min_count=0)


def test_retention_cohorts_triangle(spark):
    from time_series_db_spark.operators.temporal import retention_cohorts

    b = 100  # tiny bucket for readability
    rows = [
        # user 1: first in bucket 0, active buckets 0, 1, 3 (two events
        # inside bucket 1 count once)
        (1, 1, 10, 0.0), (2, 1, 110, 0.0), (3, 1, 150, 0.0), (4, 1, 310, 0.0),
        # user 2: first in bucket 1, active buckets 1 and 3 -> offsets 0, 2
        (5, 2, 120, 0.0), (6, 2, 390, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    got = {
        (r.cohort_ts, r.bucket_offset): r.n_active
        for r in retention_cohorts(df, bucket_ms=b).collect()
    }
    assert got == {
        (0, 0): 1, (0, 1): 1, (0, 3): 1,
        (100, 0): 1, (100, 2): 1,
    }
    with pytest.raises(ValueError, match="bucket_ms"):
        retention_cohorts(df, bucket_ms=0)


# ---------------------------------------------------------------------------
# product quantization (pipeline/ann.py)
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_range(spark, sf_dir):
    from time_series_db_spark.pipeline.ann import (
        _as_double, pq_codebooks, pq_encode,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = embs.select("vec_id", _as_double(F.col("embedding")).alias("__v"))
    books = pq_codebooks(vecs, m=8, k=16, iters=1)
    assert books.count() == 8 * 16  # every subspace has its k codewords
    codes = pq_encode(vecs, books, m=8).collect()
    assert len(codes) == embs.count()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_pq_rerank_recall_gate(spark, sf_dir):
    """The re-ranked PQ top-5 must keep >= 0.7 recall vs the exact L2
    top-5 at the catalog configuration (m=16, k=16, shortlist 50) —
    the quality bar that makes the 64x memory compression usable."""
    from pyspark.sql import Window

    from time_series_db_spark.pipeline.ann import (
        _as_double, l2sq_expr, pq_rerank_topk,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    got = pq_rerank_topk(
        embs, queries, topk=5, shortlist=50, train_iters=1, dims=64
    ).collect()

    vecs = embs.select("vec_id", _as_double(F.col("embedding")).alias("__v"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("__qv"),
    )
    ex = (
        vecs.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            l2sq_expr(F.col("__v"), F.col("__qv")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id")
    )
    exact = ex.withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()

    true_sets: dict = {}
    got_sets: dict = {}
    for r in exact:
        true_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in got:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(true_sets[q1] & got_sets.get(q1, set())) for q1 in true_sets)
    total = sum(len(v) for v in true_sets.values())
    assert hits / total >= 0.7, f"PQ recall@5 {hits/total:.3f} below gate"


def test_event_transitions_counts_and_tiebreak(spark):
    from time_series_db_spark.operators.temporal import event_transitions

    rows = [
        # user 1: a -> b -> a ; user 2: b -> b
        (1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"),
        (4, 2, 10, "b"), (5, 2, 20, "b"),
        # user 3: timestamp tie resolved by event_id: a(6) then c(7)
        (6, 3, 50, "a"), (7, 3, 50, "c"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    got = {
        (r.from_type, r.to_type): r.n_transitions
        for r in event_transitions(df).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "b"): 1, ("a", "c"): 1}


def test_ivfpq_recall_gate(spark, sf_dir):
    """IVF-PQ at the catalog configuration (16 cells, probe 6, PQ16,
    50-candidate re-rank) must keep >= 0.6 recall@5 vs exact search —
    on the synthetic near-uniform corpus, the hardest case for coarse
    pruning, while ADC-scanning only 6/16 of the codes."""
    from pyspark.sql import Window

    from time_series_db_spark.pipeline.ann import (
        _as_double, ivfpq_topk, l2sq_expr,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") % 50 == 0)
    got = ivfpq_topk(
        embs, queries, topk=5, shortlist=50, nlist=16, nprobe=6,
        m=16, k=16, train_iters=1, dims=64,
    ).collect()

    vecs = embs.select("vec_id", _as_double(F.col("embedding")).alias("__v"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("__qv"),
    )
    ex = (
        vecs.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            l2sq_expr(F.col("__v"), F.col("__qv")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id")
    )
    exact = ex.withColumn("r", F.row_number().over(w)).filter("r <= 5").collect()
    true_sets: dict = {}
    got_sets: dict = {}
    for r in exact:
        true_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in got:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(true_sets[q1] & got_sets.get(q1, set())) for q1 in true_sets)
    total = sum(len(v) for v in true_sets.values())
    assert hits / total >= 0.6, f"IVF-PQ recall@5 {hits/total:.3f} below gate"


def test_sample_weighted_properties(spark):
    from time_series_db_spark.pipeline.pack import sample_weighted

    rows = [(i, "t", "en", 10) for i in range(200)] + [
        (999, "t", "en", 1_000_000),  # dominant weight
        (998, "t", "en", 0),          # non-positive weight: excluded
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    got = sample_weighted(df, "n_chars", 50).collect()
    assert len(got) == 50
    ids = {r.doc_id for r in got}
    assert 999 in ids      # P(include) ≈ 1 at 10^5× the weight
    assert 998 not in ids  # zero weight never drawn
    assert sorted(r.sample_rank for r in got) == list(range(1, 51))
    # deterministic: the same corpus yields the same sample
    again = {r.doc_id for r in sample_weighted(df, "n_chars", 50).collect()}
    assert again == ids
    with pytest.raises(ValueError, match="positive"):
        sample_weighted(df, "n_chars", 0)


def test_asof_join_forward_direction(spark):
    from time_series_db_spark.operators.temporal import asof_join

    left = _events(spark, [(1, 7, 100, 0.0), (2, 7, 500, 0.0), (3, 8, 5, 0.0)])
    right = _events(
        spark,
        [
            (10, 7, 100, 1.0), (11, 7, 100, 2.0),  # simultaneous tie
            (12, 7, 300, 3.0),
            (13, 7, 90, 9.0),   # before: must NOT match forward
        ],
    )
    out = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
            direction="forward",
        ).collect()
    }
    # simultaneous matches; smallest tiebreak wins forward
    assert out[1] == (100, 1.0)
    assert out[2] == (None, None)  # nothing at-or-after 500
    assert out[3] == (None, None)  # user 8 empty
    # tolerance bounds the forward gap
    out2 = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
            direction="forward", tolerance_ms=50,
        ).collect()
    }
    l150 = _events(spark, [(9, 7, 150, 0.0)])
    out3 = {
        r.event_id: (r.ts_r, r.value_r)
        for r in asof_join(
            l150, right, on=["user_id"], ts_col="ts",
            right_cols=["value"], tiebreak_col="event_id",
            direction="forward", tolerance_ms=50,
        ).collect()
    }
    assert out2[1] == (100, 1.0)
    assert out3[9] == (None, None)  # next right at 300 is 150ms away > 50
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on=["user_id"], right_cols=["value"],
                  direction="nearest")


def test_funnel_within_window(spark):
    from time_series_db_spark.operators.temporal import funnel

    rows = [
        # user 1: click 15ms after signup -> inside a 20ms window
        (1, 1, 10, "signup"), (2, 1, 25, "click"),
        # user 2: first click 50ms after signup -> outside the window;
        # the funnel does NOT fall forward to later clicks
        (3, 2, 10, "signup"), (4, 2, 60, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    got = {
        r.user: (r.click_ts, r.steps_completed)
        for r in funnel(df, ["signup", "click"], within_ms=20).collect()
    }
    assert got == {1: (25, 2), 2: (None, 1)}
    with pytest.raises(ValueError, match="within_ms"):
        funnel(df, ["signup", "click"], within_ms=0)


def test_decimate_minmax_keeps_extremes(spark):
    from time_series_db_spark.model import SeriesFrame
    from time_series_db_spark.operators import windows

    rows = [
        # one series, bucket width 100: bucket 0 has spike 9 at ts=30
        # and dip 1 at ts=10 among mid values; bucket 100 has one sample
        ("k", 10, 1.0), ("k", 20, 5.0), ("k", 30, 9.0), ("k", 40, 5.0),
        ("k", 120, 3.0),
        # value tie in bucket 200: earliest ts wins for both extremes
        ("k", 210, 7.0), ("k", 220, 7.0),
    ]
    df = spark.createDataFrame(rows, "series_key string, ts long, value double")
    df = df.selectExpr(
        "series_key", "map('name','x') AS labels",
        "CAST(NULL AS STRING) AS alias", "ts", "value",
    )
    sf = SeriesFrame(df=df, min_ts=0, max_ts=300, step=10)
    got = sorted(
        (r.ts, r.value) for r in windows.decimate(sf, 100).df.collect()
    )
    assert got == [(10, 1.0), (30, 9.0), (120, 3.0), (210, 7.0)]
    with pytest.raises(ValueError, match="bucket"):
        windows.decimate(sf, 0)
