"""Concurrent query serving: one plan-cached ``search`` per request.

A warmed query's wall is almost all fixed cost — the Spark job and the
Python-stage boundary — and only a few ms of scoring.  ``search`` caches
its plan per ``(query terms, k, kernel)``, so a repeated request skips plan
building; a query-set job (``search_many_rows``) builds a new plan for every
distinct set and amortizes nothing under online traffic, where the sets
never repeat.  So :class:`SearchServer` serves by concurrency, not by
batching: each request runs ``engine.search_topk_rows`` on a pool as wide
as the driver's usable CPUs, and the Spark jobs of concurrent requests
overlap.  Known query sets (topic lists, evaluation runs) keep
``SearchEngine.search_many`` / ``search_many_rows``, one job per set.

Identical ``(text, k)`` requests that arrive while a search for them is
running share its future.  Only unresolved searches are held, so the server
caches no results: the plan cache stays the only cache, and a search that
raised is run afresh by the next identical request.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from clinical_trial_searchengine_spark.engine import SearchEngine


def _pool_width() -> int:
    """CPUs this driver process may run on: each request's plan lookup,
    job submit and result merge are driver work, so the driver's cores —
    not the cluster's — bound useful request concurrency."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without sched_getaffinity
        return os.cpu_count() or 1


class SearchServer:
    """Thread-safe top-k search front end over a warmed :class:`SearchEngine`.

    ``batches_run`` counts the Spark searches run and ``queries_served`` the
    requests accepted, so their ratio is the requests answered per job.
    """

    def __init__(self, engine: "SearchEngine"):
        self.engine = engine
        engine.handle()  # resolve once, before any pool thread can race
        self._pool = ThreadPoolExecutor(
            max_workers=_pool_width(), thread_name_prefix="ctse-search"
        )
        self._lock = threading.Lock()
        self._inflight: dict[tuple[str, int], Future] = {}
        self._closed = False
        self.batches_run = 0
        self.queries_served = 0

    def search(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        """Blocking top-k: returns [(doc_id, score)] exactly as
        ``SearchEngine.search_topk_rows`` would."""
        return self.submit(query_text, k).result()

    def submit(self, query_text: str, k: int = 10) -> Future:
        """Non-blocking: a Future resolving to [(doc_id, score)], shared
        with every identical request made while its search is unresolved."""
        key = (str(query_text), int(k))
        with self._lock:
            if self._closed:
                raise RuntimeError("server closed")
            self.queries_served += 1
            fut = self._inflight.get(key)
            if fut is None or fut.cancelled():  # a cancelled task never runs
                fut = self._pool.submit(self._run, key)
                self._inflight[key] = fut
        return fut

    def close(self) -> None:
        """Refuse new requests; requests not yet started fail with
        ``RuntimeError("server closed")``, running ones finish."""
        with self._lock:
            self._closed = True
        self._pool.shutdown(wait=True)

    def __enter__(self) -> "SearchServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _run(self, key: tuple[str, int]) -> list[tuple[int, float]]:
        # submit() holds the lock until `key` is mapped to this task's
        # future, so the lock taken here orders this task after it
        try:
            with self._lock:
                if self._closed:
                    raise RuntimeError("server closed")
                self.batches_run += 1
            text, k = key
            return self.engine.search_topk_rows(text, k=k)
        finally:
            with self._lock:
                # unmapped before the future resolves: a later identical
                # request runs a new search rather than reading a result
                del self._inflight[key]
