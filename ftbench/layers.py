"""Per-layer numbers, reported by traced runs (``--trace 1``).

A traced run first runs its workload exactly as an untraced run does, with
spans around every public call.  Then, untimed:

* :func:`sweep` touches, once, each layer the workload's own traffic did
  not (a short serving burst, a small append), so every traced run
  reports every per-layer metric;
* :func:`micro` times the analysis and codec functions on fixed inputs and
  sizes the index's segments.

:func:`per_layer` turns spans and counters into the ``per_layer`` metrics
named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import inputs
from workloads import dir_bytes

LAYERS = ["bench", "session", "plans.build", "plans.query", "serving",
          "streaming.incremental", "functions.analysis", "functions.codec",
          "plans.segments"]
# build stages that take measurable time (stage_seconds of build_index)
STAGES = ["assign_doc_ids", "doc_meta", "stats_verify", "postings_write",
          "term_stats", "norms"]
ANALYSIS_SAMPLE_DOCS = 2000
HOT_LISTS = 200


def sweep(b) -> None:
    eng, state = b.last_engine, b.final_state
    with b.span("sweep", "bench"):
        if not b.served.lat_s:
            recent = [(q.text, q.k) for q in b.queries if not q.probe]
            b.served = b.serve_burst(eng, recent[-2 * b.cores:], None, state)
        b.write_inputs({"sweep": (b.n, b.n + inputs.SWEEP_DOCS, 1)})
        b.append(eng, "sweep")
        b.state_rows["sweep"] = [*b.state_rows[state], "sweep"]


def _best_of(n: int, fn) -> float:
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return min(walls)


def micro(b) -> dict[str, float]:
    from pyspark.sql import functions as F

    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_batch,
    )
    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings,
        encode_postings,
    )
    from clinical_trial_searchengine_spark.plans import segments as seg

    out: dict[str, float] = {}
    first = next(iter(b.parts.values()))
    sample = pd.concat(
        [pd.read_parquet(p.path, columns=["content"]) for p in first]
    )["content"].iloc[:ANALYSIS_SAMPLE_DOCS]
    mb = sum(len(c.encode("utf-8")) for c in sample) / 1e6
    for mode in ("standard", "porter"):
        with b.span(f"analyze_batch.{mode}", "functions.analysis"):
            wall = _best_of(2, lambda: analyze_batch(sample, mode))
        out[f"analysis.{mode}_mb_per_s"] = mb / wall

    index_dir = b.last_engine.index_dir
    meta = seg.read_meta(index_dir)
    with b.span("read_hot_postings", "plans.segments"):
        bufs = [
            bytes(r["postings"]) for r in
            b.spark.read.parquet(seg.path_of(index_dir, seg.POSTINGS))
            .orderBy(F.col("n_postings").desc()).limit(HOT_LISTS)
            .select("postings").collect()
        ]
    with b.span("decode", "functions.codec"):
        decoded = [decode_postings(buf) for buf in bufs]
        wall = _best_of(3, lambda: [decode_postings(buf) for buf in bufs])
    n_post = sum(len(d) for d, _ in decoded)
    out["codec.decode_mpostings_per_s"] = n_post / 1e6 / wall
    codec = meta.get("postings_codec", "pfor")
    with b.span("encode", "functions.codec"):
        wall = _best_of(3, lambda: [
            encode_postings(d, t.astype(np.uint64), codec=codec)
            for d, t in decoded])
    out["codec.encode_mpostings_per_s"] = n_post / 1e6 / wall
    out["codec.bytes_per_posting"] = sum(map(len, bufs)) / max(1, n_post)

    with b.span("segment_sizes", "plans.segments"):
        roots = [index_dir] + [
            os.path.join(index_dir, d) for d in sorted(os.listdir(index_dir))
            if d.startswith("gen=")
        ]
        for name in (seg.POSTINGS, seg.NORMS, seg.DOC_META, seg.TERM_STATS):
            out[f"segments.{name}_bytes"] = float(sum(
                dir_bytes(seg.path_of(r, name)) for r in roots))
    return out


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def per_layer(b, micro_metrics: dict[str, float]) -> dict[str, float]:
    tr = b.tracer
    spans = tr.spans

    def named(name: str):
        return [s for s in spans if s.name == name]

    def dur(s) -> float:
        return s.end - s.start

    out: dict[str, float] = {}
    out["session.start_s"] = dur(named("get_spark")[0])

    builds = named("build")
    out["build.first_wall_s"] = dur(builds[0])
    walls = [w for w, _ in b.builds]
    out["build.wall_s"] = _median(walls)
    last = builds[-1]
    for what in ("jobs", "tasks", "failed_tasks"):
        out[f"build.{what}"] = float(tr.total(last, what))
    median_meta = sorted(b.builds, key=lambda e: e[0])[len(b.builds) // 2][1]
    for stage in STAGES:
        out[f"build.stage_s.{stage}"] = float(
            median_meta.get("stage_seconds", {}).get(stage, 0.0))

    out.update(micro_metrics)

    out["query.open_ms"] = _median([dur(s) for s in named("open")]) * 1e3
    out["query.warm_s"] = _median([dur(s) for s in named("warm")])
    # timed queries only: warm-up queries are not in b.queries
    first = {q.request for q in b.queries if q.first}
    timed = {q.request for q in b.queries}
    plans = [s for s in named("search") if s.request in timed]
    out["query.plan_ms.first"] = _median(
        [dur(s) for s in plans if s.request in first]) * 1e3
    out["query.plan_ms.repeat"] = _median(
        [dur(s) for s in plans if s.request not in first]) * 1e3
    execs = [s for s in named("collect") if s.request in timed]
    out["query.exec_ms"] = _median([dur(s) for s in execs]) * 1e3
    n_q = max(1, len(execs))
    out["query.jobs_per_query"] = sum(
        tr.total(s, "jobs") for s in plans + execs) / n_q
    out["query.tasks_per_query"] = sum(
        tr.total(s, "tasks") for s in plans + execs) / n_q

    s = b.served
    out["serving.batches"] = float(s.batches)
    out["serving.mean_batch_size"] = s.queries / max(1, s.batches)
    out["serving.qps"] = len(s.lat_s) / s.wall_s if s.wall_s else 0.0
    out["serving.request_p50_ms"] = _median(s.lat_s) * 1e3
    burst = named("serve_burst")[-1]
    out["serving.jobs_per_request"] = tr.total(burst, "jobs") / max(
        1, len(s.lat_s))

    appends = named("add_documents")
    out["incremental.append_s"] = _median([dur(a) for a in appends])
    out["incremental.jobs"] = _median(
        [tr.total(a, "jobs") for a in appends])
    out["incremental.tasks"] = _median(
        [tr.total(a, "tasks") for a in appends])
    out["incremental.freshness_s"] = _median(b.append_fresh_s)

    self_s = tr.self_seconds()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    out["trace.spans"] = float(len(spans))
    out["trace.cost_s"] = tr.cost_s
    return out
