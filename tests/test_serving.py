"""SearchServer: served results must be IDENTICAL to the per-query path,
identical in-flight requests share one search, and close() resolves every
future.  The stub-engine tests need no Spark."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from clinical_trial_searchengine_spark.serving import SearchServer, _pool_width
from clinical_trial_searchengine_spark.sources.corpus import (
    reference_queries,
)

WAIT_S = 30


@pytest.fixture(scope="module")
def server(built_index):
    built_index.warm()
    with built_index.serving() as srv:
        yield srv


def test_concurrent_results_identical_to_per_query(built_index, server):
    qs = reference_queries()
    expected = {
        q["query_id"]: built_index.search_topk_rows(q["text"], k=q["k"])
        for q in qs
    }
    with ThreadPoolExecutor(max_workers=12) as ex:
        futs = {
            q["query_id"]: ex.submit(server.search, q["text"], q["k"])
            for q in qs
        }
        got = {key: f.result(timeout=120) for key, f in futs.items()}
    assert got == expected


def test_mixed_k_and_duplicate_texts(built_index, server):
    text = "def license"
    with ThreadPoolExecutor(max_workers=4) as ex:
        f3 = ex.submit(server.search, text, 3)
        f7 = ex.submit(server.search, text, 7)
        fz = ex.submit(server.search, "zzznohit qqqmissing", 5)
        got3, got7, gotz = f3.result(60), f7.result(60), fz.result(60)
    assert got3 == built_index.search_topk_rows(text, k=3)
    assert got7 == built_index.search_topk_rows(text, k=7)
    assert got3 == got7[:3]
    assert gotz == []


def test_search_many_rows_identical_to_search_many(built_index):
    """Driver-merge twin == Window-rank batch == per-query path."""
    qs = reference_queries()
    texts = {q["query_id"]: q["text"] for q in qs}
    kmax = max(q["k"] for q in qs)
    rows = built_index.search_many_rows(texts, k=kmax)
    df = {
        qid: [] for qid in texts
    }
    for r in built_index.search_many(texts, k=kmax).orderBy(
        "query_id", "rank"
    ).collect():
        df[r["query_id"]].append((r["doc_id"], r["score"]))
    assert rows == df
    for q in qs:
        assert rows[q["query_id"]][: q["k"]] == built_index.search_topk_rows(
            q["text"], k=q["k"]
        )


def test_submit_after_close_raises(built_index):
    srv = SearchServer(built_index)
    srv.close()
    with pytest.raises(RuntimeError):
        srv.submit("def", 5)


class _StubEngine:
    """handle() + a search_topk_rows that blocks until `release` is set,
    counting calls per (text, k); raises instead when `fail` is set."""

    def __init__(self):
        self.release = threading.Event()
        self.fail = False
        self.calls: list[tuple[str, int]] = []
        self._lock = threading.Lock()

    def handle(self):
        return None

    def search_topk_rows(self, text, k=10):
        with self._lock:
            self.calls.append((text, k))
        if not self.release.wait(WAIT_S):
            raise TimeoutError("stub search never released")
        if self.fail:
            raise ValueError(f"search failed: {text}")
        return [(len(text), float(k))]

    def wait_calls(self, n):
        deadline = time.monotonic() + WAIT_S
        while len(self.calls) < n and time.monotonic() < deadline:
            time.sleep(0.005)
        assert len(self.calls) == n


def test_identical_inflight_requests_share_one_search():
    eng = _StubEngine()
    with SearchServer(eng) as srv:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futs = list(ex.map(lambda _: srv.submit("merge join", 5),
                               range(16)))
        eng.wait_calls(1)
        eng.release.set()
        results = [f.result(WAIT_S) for f in futs]
        assert eng.calls == [("merge join", 5)]
        assert results == [[(10, 5.0)]] * 16
        assert (srv.batches_run, srv.queries_served) == (1, 16)


def test_different_k_runs_a_separate_search():
    eng = _StubEngine()
    with SearchServer(eng) as srv:
        f3, f7 = srv.submit("merge join", 3), srv.submit("merge join", 7)
        eng.wait_calls(2)
        eng.release.set()
        assert (f3.result(WAIT_S), f7.result(WAIT_S)) == (
            [(10, 3.0)], [(10, 7.0)])
    assert sorted(eng.calls) == [("merge join", 3), ("merge join", 7)]


def test_exception_reaches_every_sharing_future_then_reruns():
    eng = _StubEngine()
    eng.fail = True
    with SearchServer(eng) as srv:
        futs = [srv.submit("parse error", 10) for _ in range(4)]
        eng.wait_calls(1)
        eng.release.set()
        for f in futs:
            with pytest.raises(ValueError, match="search failed"):
                f.result(WAIT_S)
        eng.fail = False
        assert srv.submit("parse error", 10).result(WAIT_S) == [(11, 10.0)]
    assert eng.calls == [("parse error", 10)] * 2


def test_cancelled_request_does_not_block_its_key():
    eng = _StubEngine()
    width = _pool_width()
    with SearchServer(eng) as srv:
        running = [srv.submit(f"busy {i}", 1) for i in range(width)]
        eng.wait_calls(width)
        queued = srv.submit("queued", 2)
        assert queued.cancel()
        again = srv.submit("queued", 2)
        assert again is not queued
        eng.release.set()
        assert again.result(WAIT_S) == [(6, 2.0)]
        assert all(f.result(WAIT_S) for f in running)


def test_close_fails_queued_requests_and_finishes_running_ones():
    eng = _StubEngine()
    width = _pool_width()
    srv = SearchServer(eng)
    running = [srv.submit(f"run {i}", 1) for i in range(width)]
    eng.wait_calls(width)
    queued = [srv.submit(f"queued {i}", 1) for i in range(3)]
    closer = threading.Thread(target=srv.close)
    closer.start()
    deadline = time.monotonic() + WAIT_S
    while not srv._closed and time.monotonic() < deadline:
        time.sleep(0.005)
    with pytest.raises(RuntimeError, match="server closed"):
        srv.submit("late", 1)
    eng.release.set()
    closer.join(WAIT_S)
    assert not closer.is_alive()
    for i, f in enumerate(running):
        assert f.result(0) == [(len(f"run {i}"), 1.0)]
    for f in queued:
        with pytest.raises(RuntimeError, match="server closed"):
            f.result(0)
    assert len(eng.calls) == width
    assert srv.batches_run == width and srv.queries_served == width + 3


def test_concurrent_submits_stress():
    """16 threads x 200 submits over 3 keys with a tiny switch interval:
    no lost counter update, every answer right, nothing left in flight."""
    eng = _StubEngine()
    eng.release.set()
    keys = [("a", 1), ("bb", 2), ("ccc", 3)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with SearchServer(eng) as srv:
            def client(c):
                for j in range(200):
                    text, k = keys[(c + j) % 3]
                    assert srv.submit(text, k).result(WAIT_S) == [
                        (len(text), float(k))]

            with ThreadPoolExecutor(max_workers=16) as ex:
                list(ex.map(client, range(16)))
            assert srv.queries_served == 16 * 200
            assert srv.batches_run == len(eng.calls) <= 16 * 200
            assert srv._inflight == {}
    finally:
        sys.setswitchinterval(old)
