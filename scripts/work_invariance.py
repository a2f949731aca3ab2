"""Work-invariance audit for the scaling claim: byte counters, not walls.

The N->4N wall-clock efficiency on this host is bounded by hypervisor
steal and the measured memory-bandwidth ceiling — both CONTENTION, not
engine work.  This script measures the load-INDEPENDENT half of the
scaling argument: the bytes the engine moves (input scanned, shuffle
written, shuffle read, output) at parallelism 1 vs 4 on the same input.
A parallelism-invariant byte profile means the engine schedules no extra
work at higher parallelism — no duplicated scans, no fan-out shuffles,
no skew amplification — so its scaling is limited only by hardware
contention (probed separately in BENCH/kernel_ceiling.json), which a
real multi-node cluster does not share.

Metrics come from the Spark status REST API of each run's UI
(per-stage shuffleWriteBytes / shuffleReadBytes / inputBytes /
outputBytes, summed over the build's stages).

Writes BENCH/work_invariance.json.

Usage: python scripts/work_invariance.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_build(master: str, n_docs: int) -> dict:
    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.session import get_spark
    from clinical_trial_searchengine_spark.sources.corpus import (
        generate_corpus_df,
    )

    spark = get_spark(
        master=master,
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        corpus = generate_corpus_df(spark, n_docs)
        idx = f"/tmp/ctse_workinv_{master.replace('[', '_').rstrip(']')}"
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        eng = SearchEngine(spark, idx)
        eng.build(corpus, shard_size=max(4096, n_docs // 8),
                  hot_df_threshold=max(1000, n_docs // 10))
        wall = time.time() - t0
        # status REST API of THIS app
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            stages = json.load(r)
        tot = {
            "input_bytes": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_records": 0, "input_records": 0,
            "n_stages": len(stages), "n_tasks": 0,
        }
        for s in stages:
            tot["input_bytes"] += s.get("inputBytes", 0)
            tot["output_bytes"] += s.get("outputBytes", 0)
            tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            tot["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
            tot["input_records"] += s.get("inputRecords", 0)
            tot["n_tasks"] += s.get("numCompleteTasks", 0)
        tot["wall_sec"] = round(wall, 2)
        tot["master"] = master
        return tot
    finally:
        spark.stop()


def run_queries(master: str, n_docs: int) -> dict:
    """Counter profile of the warmed query path: build once (reusing the
    build-run index if present), warm, run the reference query suite,
    and sum the counters of ONLY the query stages (delta between two
    status-API snapshots)."""
    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.session import get_spark
    from clinical_trial_searchengine_spark.sources.corpus import (
        generate_corpus_df,
        reference_queries,
    )

    spark = get_spark(
        master=master,
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        idx = f"/tmp/ctse_workinv_{master.replace('[', '_').rstrip(']')}"
        eng = SearchEngine(spark, idx)
        if not os.path.exists(os.path.join(idx, "meta.json")):
            eng.build(generate_corpus_df(spark, n_docs),
                      shard_size=max(4096, n_docs // 8),
                      hot_df_threshold=max(1000, n_docs // 10))
        eng.warm()
        eng.search_topk_rows("warmup query", 10)

        def snap():
            ui = spark.sparkContext.uiWebUrl
            app_id = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
            ) as r:
                stages = json.load(r)
            t = dict.fromkeys(
                ("input_bytes", "shuffle_write_bytes",
                 "shuffle_read_bytes", "n_tasks"), 0)
            for s in stages:
                t["input_bytes"] += s.get("inputBytes", 0)
                t["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                t["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                t["n_tasks"] += s.get("numCompleteTasks", 0)
            return t

        before = snap()
        t0 = time.time()
        for q in reference_queries():
            eng.search_topk_rows(q["text"], k=q["k"])
        wall = time.time() - t0
        after = snap()
        out = {k: after[k] - before[k] for k in before}
        out["wall_sec"] = round(wall, 2)
        out["master"] = master
        return out
    finally:
        spark.stop()


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    out: dict = {"n_docs": n_docs, "runs": {}, "query_runs": {}}
    for master in ("local[1]", "local[4]"):
        out["runs"][master] = run_build(master, n_docs)
        print(master, out["runs"][master], flush=True)
    for master in ("local[1]", "local[4]"):
        out["query_runs"][master] = run_queries(master, n_docs)
        print("queries", master, out["query_runs"][master], flush=True)
    r1, r4 = out["runs"]["local[1]"], out["runs"]["local[4]"]
    ratios = {}
    for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "output_bytes", "shuffle_write_records"):
        ratios[k] = round(r4[k] / r1[k], 4) if r1.get(k) else None
    out["bytes_ratio_4x_over_1x"] = ratios
    out["invariant"] = all(
        v is None or 0.95 <= v <= 1.05 for v in ratios.values()
    )
    q1, q4 = out["query_runs"]["local[1]"], out["query_runs"]["local[4]"]
    qratios = {
        k: (round(q4[k] / q1[k], 4) if q1.get(k) else None)
        for k in ("input_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes")
    }
    out["query_bytes_ratio_4x_over_1x"] = qratios
    out["query_invariant"] = all(
        v is None or 0.95 <= v <= 1.05
        for v in qratios.values() if v is not None
    )
    path = os.path.join(REPO, "BENCH", "work_invariance.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)
    print("ratios(4x/1x):", ratios, "invariant:", out["invariant"])


if __name__ == "__main__":
    main()
