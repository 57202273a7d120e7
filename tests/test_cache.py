"""Query-scoped cache registry: the warm window of recently entered
scopes, release at the boundary outside it, and release of warm entries
whose input files changed."""

from __future__ import annotations

import pytest

from time_series_db_spark import cache


@pytest.fixture(autouse=True)
def _clean_registry(spark):
    """These tests count tracked frames exactly — a persist left behind
    by a previously-run test FILE (e.g. plan_quality's last gate, which
    releases before each of ITS tests but not after its last) would
    inflate the counts. Order-independence is the point of the sweep."""
    cache.release_all()
    yield
    cache.release_all()


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_release_others_keeps_current_scope(spark):
    """Scopes inside the warm window stay cached across boundaries."""
    cache.set_scope("qA")
    a = cache.persist_tracked(spark.range(10).selectExpr("id", "id * 2 AS v"))
    a.count()
    assert _is_cached(a)

    cache.set_scope("qB")
    b = cache.persist_tracked(spark.range(5))
    b.count()

    assert cache.release_others() == 0  # qA is still in the window ...
    assert _is_cached(a) and _is_cached(b)

    # ... and re-entering it releases nothing either
    cache.set_scope("qA")
    assert cache.release_others() == 0
    assert _is_cached(a) and _is_cached(b)

    assert cache.release_all() == 2
    assert not _is_cached(a) and not _is_cached(b)


def test_ninth_scope_releases_the_oldest(spark):
    """Entering a scope beyond the window releases the least recently
    ENTERED one — re-entering a scope makes it recent again."""
    frames = {}
    for i in range(cache.WARM_SCOPES):
        cache.set_scope(f"q{i}")
        frames[i] = cache.persist_tracked(spark.range(i + 1))
        frames[i].count()
        assert cache.release_others() == 0
    cache.set_scope("q0")  # q1 is now the least recently entered
    assert cache.release_others() == 0

    cache.set_scope("q_new")
    assert cache.release_others() == 1
    assert not _is_cached(frames[1])
    assert all(_is_cached(frames[i]) for i in frames if i != 1)
    assert "q1" not in cache._TRACKED


def test_anonymous_scope_always_released(spark):
    """Persists issued outside any entry point (scope "") never outlive
    the next boundary, even when "" is the current scope."""
    cache.set_scope("")
    anon = cache.persist_tracked(spark.range(3))
    anon.count()
    assert cache.release_others() == 1
    assert not _is_cached(anon)

    anon = cache.persist_tracked(spark.range(4))
    cache.set_scope("named")
    named = cache.persist_tracked(spark.range(6))
    assert cache.release_others() == 1
    assert not _is_cached(anon) and _is_cached(named)


def test_same_plan_dedupes_within_scope(spark):
    cache.set_scope("qC")
    df1 = cache.persist_tracked(spark.range(7).selectExpr("id + 1 AS x"))
    df2 = cache.persist_tracked(spark.range(7).selectExpr("id + 1 AS x"))
    df1.count()
    assert _is_cached(df1) and _is_cached(df2)
    # identical analyzed plans share one registry slot and one cache
    # entry: once qC leaves the window, ONE release drops both handles
    for i in range(cache.WARM_SCOPES):
        cache.set_scope(f"other{i}")
    assert cache.release_others() == 1
    assert not _is_cached(df1) and not _is_cached(df2)
    cache.release_all()


def test_shared_plan_outlives_one_scope(spark):
    """Two scopes persisting one plan share its CacheManager entry: the
    first scope leaving the window must not uncache the second's."""
    cache.set_scope("first")
    a = cache.persist_tracked(spark.range(9).selectExpr("id * 3 AS x"))
    a.count()
    for i in range(cache.WARM_SCOPES - 1):
        cache.set_scope(f"filler{i}")
    cache.set_scope("second")
    b = cache.persist_tracked(spark.range(9).selectExpr("id * 3 AS x"))
    cache.set_scope("last")  # "first" leaves the window
    assert cache.release_others() == 0
    assert "first" not in cache._TRACKED
    assert _is_cached(b)
    assert cache.release_all() == 1
    assert not _is_cached(b)


def test_catalog_entry_scopes_by_query_name(spark, sf_dir):
    from time_series_db_spark.catalog import QUERIES

    cache.set_scope("")
    QUERIES["m3_divide"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    assert cache.current_scope() == "m3_divide"
    # the binary matching chain tracked its right-side persist under the
    # query's own scope, so a re-run would keep it warm
    assert "m3_divide" in cache._TRACKED and cache._TRACKED["m3_divide"]
    cache.release_all()


def test_probe_memo_scoped_and_released(spark):
    """probe_memo: one compute per (plan, kind) within a scope; the memo
    survives boundaries while its scope is in the warm window and is
    dropped with the scope's frames once it leaves."""
    from time_series_db_spark import cache

    df = spark.range(5)
    calls = []

    def compute():
        calls.append(1)
        return df.count()

    cache.set_scope("q1")
    assert cache.probe_memo(df, "n", compute) == 5
    assert cache.probe_memo(df, "n", compute) == 5
    assert len(calls) == 1                      # memo hit
    assert cache.probe_memo(df, "other", compute) == 5
    assert len(calls) == 2                      # distinct kind recomputes

    # same plan, new DataFrame object → still a hit (semantic hash)
    assert cache.probe_memo(spark.range(5), "n", compute) == 5
    assert len(calls) == 2

    # another scope's boundary keeps q1's memo while q1 is warm ...
    cache.set_scope("q2")
    cache.release_others()
    cache.set_scope("q1")
    assert cache.probe_memo(df, "n", compute) == 5
    assert len(calls) == 2

    # ... and drops it with q1's frames once q1 leaves the window
    for i in range(cache.WARM_SCOPES):
        cache.set_scope(f"q{i + 2}")
    cache.release_others()
    cache.set_scope("q1")
    assert cache.probe_memo(df, "n", compute) == 5
    assert len(calls) == 3
    cache.release_all()


def test_memo_key_names_the_listing_its_build_noted(spark):
    """Two callers of one scope name, interleaved in one thread: A reads
    listing L1, B notes L2 (which releases the scope), then A stores its
    answer.  B must compute its own answer, not find A's."""
    import contextvars

    df = spark.range(3)
    a, b = contextvars.copy_context(), contextvars.copy_context()
    a.run(cache.set_scope, "panel")
    a.run(cache.note_inputs, "root", "L1")
    b.run(cache.set_scope, "panel")
    b.run(cache.note_inputs, "root", "L2")
    assert a.run(cache.probe_memo, df, "answer", lambda: "from L1") == "from L1"
    assert b.run(cache.probe_memo, df, "answer", lambda: "from L2") == "from L2"
    assert b.run(cache.probe_memo, df, "answer", lambda: "again") == "from L2"
    # entering the scope again starts a new record of noted listings
    b.run(cache.set_scope, "panel")
    assert b.run(cache.probe_memo, df, "answer", lambda: "unnoted") == "unnoted"


T0 = 1_704_067_200_000


def test_external_write_releases_warm_entries(spark, tmp_path):
    """A file copied into a MetricsSource table from outside the session
    must reach the next query, though CacheManager and the probe memos
    match the table's plan by its root path: the same query (its own
    persists and memos warm) and a different query that persists the
    same sub-plan both come back fresh."""
    import glob
    import shutil

    from time_series_db_spark import service
    from time_series_db_spark.sources.m3source import MetricsSource
    from time_series_db_spark.streaming import INGEST_SCHEMA, ingest_batch

    def docs(hosts, value):
        return spark.createDataFrame(
            [(f"name cpu host {h} dc d0", T0, value) for h in hosts], INGEST_SCHEMA
        )

    table = str(tmp_path / "metrics")
    ingest_batch(spark, docs(["h0", "h1"], 1.0), table)
    for h in ("h2", "h3"):
        ingest_batch(spark, docs([h], 10.0), str(tmp_path / h))

    def copy_in(h):
        """One parquet file of another table, copied into the block
        directory the way an outside writer would."""
        [block] = glob.glob(str(tmp_path / h / "block=*"))
        [f] = glob.glob(f"{block}/*.parquet")
        dest = tmp_path / "metrics" / block.rsplit("/", 1)[1] / f"{h}.parquet"
        shutil.copy(f, dest)

    src = MetricsSource(spark, table)

    def ask(q):
        resp = service.promql_query_range(src, q, T0, T0 + 60_000, 60_000)
        return [v for s in resp["data"]["result"] for _, v in s["values"]]

    same = "sum by (dc) (cpu) + on(dc) sum by (dc) (cpu)"
    assert ask(same) == ["4"]
    copy_in("h2")
    assert ask(same) == ["24"]
    copy_in("h3")
    # the right side is the same persisted sub-plan as `same`'s
    assert ask("sum by (dc) (cpu) * on(dc) sum by (dc) (cpu)") == ["484"]


def test_fixture_rewrite_reaches_next_fetch(spark, tmp_path):
    """Reader and fetch-handle memos notice a rewritten fixture file, and
    warm entries built on the old file are released; clear() drops every
    memoised handle."""
    import os

    import pyarrow.parquet as pq

    from time_series_db_spark.sources import tables
    from time_series_db_spark.sources.m3source import EventsSource
    from time_series_db_spark.sources.tables import fetch_events, load_table

    from tests.conftest import SF_DIR

    path = tmp_path / "events.parquet"
    full = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(full, path)
    d = str(tmp_path)
    src = EventsSource(spark, d)

    def counts():
        return (
            load_table(spark, d, "events").count(),
            fetch_events(spark, d).df.count(),
            src.fetch({"name": ["error"]}, {}, 0, 2**62, 3_600_000).df.count(),
        )

    cache.set_scope("fixture")
    before = counts()
    warm = cache.persist_tracked(fetch_events(spark, d).df)
    warm.count()
    assert before[0] == full.num_rows and all(before)

    # rewrite in the middle of the session; the stamp is moved on
    # explicitly so a coarse file-system clock cannot hide the write
    st = os.stat(path)
    pq.write_table(full.slice(0, full.num_rows // 2), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    after = counts()
    assert after[0] == full.num_rows // 2
    assert after[1] < before[1] and after[2] < before[2]
    assert not _is_cached(warm)

    assert any(tables._MEMOS)
    tables.clear()
    assert not any(tables._MEMOS)


def test_scope_is_per_thread(spark):
    """A thread entering scope b leaves another thread's scope a as it
    was, and the first thread's persists still register under a."""
    import threading

    a_in, b_in = threading.Event(), threading.Event()
    seen = {}

    def run_a():
        cache.set_scope("a")
        a_in.set()
        b_in.wait(30)
        seen["a"] = cache.current_scope()
        cache.persist_tracked(spark.range(11))

    def run_b():
        a_in.wait(30)
        cache.set_scope("b")
        seen["b"] = cache.current_scope()
        b_in.set()

    threads = [threading.Thread(target=f) for f in (run_a, run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"a": "a", "b": "b"}
    assert set(cache._TRACKED) == {"a"}


def test_scope_registry_under_thread_stress():
    """More threads than cores enter scopes, note inputs and cross
    boundaries with a tiny switch interval: every thread keeps its own
    scope throughout and no registry update raises."""
    import sys
    import threading

    n_threads, rounds = 8, 300
    errors = []

    def worker(i):
        try:
            for r in range(rounds):
                cache.set_scope(f"s{i}")
                cache.note_inputs(f"root{i}", 0)
                cache.release_others()
                assert cache.current_scope() == f"s{i}", (i, r)
        except Exception as e:  # reported below with the thread's index
            errors.append(f"{i}: {type(e).__name__}: {e}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def test_two_threads_query_one_session(spark, sf_dir):
    """Two callers run different queries (each with a binary stage, so
    each persists and probes under its own scope) on one session at the
    same time; each answer equals its single-threaded one."""
    import threading

    from time_series_db_spark import service
    from time_series_db_spark.sources.m3source import EventsSource
    from time_series_db_spark.sources.tables import EVENTS_MAX_TS, EVENTS_MIN_TS

    src = EventsSource(spark, sf_dir)
    queries = [
        (service.m3ql_query_range,
         "fetch name:error | divideWhen ge 50 (fetch name:error | sum region) region"),
        (service.promql_query_range,
         "sum by (region) (error) / on(region) sum by (region) (click)"),
    ]

    def ask(i):
        facade, query = queries[i]
        return facade(src, query, EVENTS_MIN_TS, EVENTS_MAX_TS, 3_600_000)

    want = [ask(0), ask(1)]
    assert all(w["data"]["result"] for w in want)
    got, errors = {0: [], 1: []}, []

    def worker(i):
        try:
            for _ in range(3):
                got[i].append(ask(i))
        except Exception as e:  # reported below with the query
            errors.append(f"{queries[i][1]}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == {0: [want[0]] * 3, 1: [want[1]] * 3}
