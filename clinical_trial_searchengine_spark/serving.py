"""Concurrent query serving with adaptive micro-batching.

The per-query serving path pays a fixed driver-side cost — eager plan
analysis + py4j round-trips for the cogroup/applyInPandas plan — of
~40-75 ms per `search()` call (scripts/profile_query_overhead.py).  Under
concurrent load that fixed cost is the Amdahl serial fraction that caps
executor scaling: executors idle in the gap between one query's collect
and the next query's job submission.

`BatchingSearchServer` removes it the way the reference's backend does
with OpenSearch `_msearch` (one HTTP round trip, many queries — the
reference evaluation pipeline batches all 75 TREC topics per run,
reference: backend/evaluation/evaluation_pipeline.py:122-150): concurrent
callers enqueue requests, a single dispatcher thread drains WHATEVER is
queued (adaptive batch size: under light load a batch of 1 leaves
latency untouched; under heavy load batches grow to `max_batch` and the
per-job driver cost amortizes across the batch).  A batch of several
distinct requests runs ONE `search_many_rows` job (query-set kernel,
driver-side top-k merge); a batch of one distinct request runs `search`
(one cached plan, one job).  Both score through the same query-set path
and the same (score desc, doc_id asc) tie-break, so batching changes
throughput, never results.

Scale note (100 TB / 1000 executors): one batched job scans the postings
once for the UNION of all batched query terms and decodes each posting
list once per shard for the whole batch — batching helps twice (driver
amortization AND shared decode), which is why every production search
engine serves this shape.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import Future
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from clinical_trial_searchengine_spark.engine import SearchEngine


@dataclass
class _Request:
    text: str
    k: int
    future: Future = field(default_factory=Future)


class BatchingSearchServer:
    """Thread-safe top-k search façade over a warmed :class:`SearchEngine`.

    Parameters
    ----------
    engine:       warmed SearchEngine (call ``engine.warm()`` first).
                  The engine's lazily-built IndexHandle is resolved
                  eagerly at construction — with ``max_inflight`` > 1
                  batches run on concurrent pool threads, so the handle
                  must exist before any of them race to build it.
    max_batch:    cap on queries folded into one Spark job.  Keeps the
                  query-set kernel's per-task score-vector working set
                  bounded (one float64 vector per query per shard).
    max_wait_ms:  how long the dispatcher lingers after draining the
                  queue to let stragglers join the batch.  0 (default)
                  = purely adaptive: never add latency, batch only what
                  concurrency already queued.
    max_inflight: batch jobs allowed to run CONCURRENTLY.  One batch
                  job uses ~n_shards tasks; when the cluster has more
                  slots than that (e.g. local[32] over an 8-shard
                  index), a single sequential batch stream cannot
                  saturate it — pipelining a bounded number of batches
                  keeps the slots fed while still amortizing driver
                  cost.  Self-balancing: with spare capacity batches
                  drain small and often; under saturation they grow to
                  max_batch.
    """

    def __init__(
        self,
        engine: "SearchEngine",
        max_batch: int = 64,
        max_wait_ms: float = 0.0,
        max_inflight: int | None = None,
    ):
        from concurrent.futures import ThreadPoolExecutor

        self.engine = engine
        engine.handle()  # resolve once, before any pool thread can race
        if max_inflight is None:
            # adaptive default: under light load batches drain small and
            # fast, so the pipeline must be deep enough that the driver's
            # per-batch fixed cost (plan build + submit + merge) overlaps
            # across batches — measured 35 qps at depth 2 vs ~50-70 at
            # 4-6 on 32 cores with ~4-query batches.  Scale with cores,
            # floor 2 (the round-4 value, right for small machines).
            max_inflight = max(
                2, int(engine.spark.sparkContext.defaultParallelism) // 8
            )
        self.max_batch = int(max_batch)
        self.max_wait_s = float(max_wait_ms) / 1e3
        self._queue: list[_Request] = []
        self._lock = threading.Lock()
        self._wake = threading.Condition(self._lock)
        self._closed = False
        self.batches_run = 0
        self.queries_served = 0
        self._stats_lock = threading.Lock()
        self._inflight = threading.Semaphore(max(1, int(max_inflight)))
        self._pool = ThreadPoolExecutor(
            max_workers=max(1, int(max_inflight)),
            thread_name_prefix="ctse-batch-run",
        )
        self._thread = threading.Thread(
            target=self._dispatch_loop, name="ctse-batch-dispatch",
            daemon=True,
        )
        self._thread.start()

    # -- client surface ----------------------------------------------------

    def search(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        """Blocking top-k: returns [(doc_id, score)] exactly as
        ``SearchEngine.search_topk_rows`` would."""
        return self.submit(query_text, k).result()

    def submit(self, query_text: str, k: int = 10) -> Future:
        """Non-blocking: a Future resolving to [(doc_id, score)]."""
        req = _Request(str(query_text), int(k))
        with self._wake:
            if self._closed:
                raise RuntimeError("server closed")
            self._queue.append(req)
            self._wake.notify()
        return req.future

    def close(self) -> None:
        with self._wake:
            self._closed = True
            self._wake.notify()
        self._thread.join(timeout=30)
        self._pool.shutdown(wait=True)
        with self._lock:
            leftovers, self._queue = self._queue, []
        for r in leftovers:  # pragma: no cover - close() races are benign
            if not r.future.done():
                r.future.set_exception(RuntimeError("server closed"))

    def __enter__(self) -> "BatchingSearchServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- dispatcher ---------------------------------------------------------

    def _take_batch(self) -> list[_Request]:
        with self._wake:
            while not self._queue and not self._closed:
                self._wake.wait(timeout=0.5)
            batch = self._queue[: self.max_batch]
            del self._queue[: len(batch)]
        if batch and self.max_wait_s > 0 and len(batch) < self.max_batch:
            time.sleep(self.max_wait_s)  # straggler window (opt-in)
            with self._lock:
                extra = self._queue[: self.max_batch - len(batch)]
                del self._queue[: len(extra)]
            batch.extend(extra)
        return batch

    def _dispatch_loop(self) -> None:
        while True:
            batch = self._take_batch()
            if not batch:
                if self._closed:
                    return
                continue
            # bounded pipelining: block once max_inflight batch jobs are
            # already running, so batches re-grow under saturation
            self._inflight.acquire()
            self._pool.submit(self._run_batch_safe, batch)

    def _run_batch_safe(self, batch: list[_Request]) -> None:
        try:
            self._run_batch(batch)
        except Exception as e:  # noqa: BLE001 - fail the batch, not the loop
            for r in batch:
                if not r.future.done():
                    r.future.set_exception(e)
        finally:
            self._inflight.release()

    def _run_batch(self, batch: list[_Request]) -> None:
        # identical (text, k) requests share one executed query
        uniq: dict[tuple[str, int], list[_Request]] = {}
        for r in batch:
            uniq.setdefault((r.text, r.k), []).append(r)
        if len(uniq) == 1:
            # singleton batch: the per-query path is one cached plan, one
            # job — cheaper than building a search_many_rows plan
            (text, k), reqs = next(iter(uniq.items()))
            rows = self.engine.search_topk_rows(text, k=k)
            for r in reqs:
                r.future.set_result(rows)
        else:
            kmax = max(k for _, k in uniq)
            qids = {f"b{i}": text for i, (text, _k) in enumerate(uniq)}
            by_qid = self.engine.search_many_rows(qids, k=kmax)
            for qid, (key, reqs) in zip(qids, uniq.items()):
                ranked = by_qid[qid]
                for r in reqs:
                    r.future.set_result(ranked[: r.k])
        with self._stats_lock:
            self.batches_run += 1
            self.queries_served += len(batch)
