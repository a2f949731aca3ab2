"""spark-submit entry point: concurrent query-throughput cell.

Measures the SERVING shape of the engine on a multi-executor cluster: the
reference query set is fired from a pool of driver threads against a warmed
index (persisted postings/norms), so concurrent Spark jobs keep every
executor core busy — throughput (q/s) is the number that scales with
executors, unlike single-query latency which is bounded by one query's
task count.

    spark-submit --py-files ctse.zip scripts/submit_query_throughput.py \
        --index-dir /path/to/index [--threads 8] [--rounds 3]

Prints one JSON line: {"queries": N, "seconds": s, "qps": ...,
"p50_sec": ..., "p95_sec": ...}.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--threads", type=int, default=8)
    ap.add_argument("--rounds", type=int, default=3,
                    help="repetitions of the 20-query reference set")
    ap.add_argument("--serving", choices=("per_query", "batched"),
                    default="per_query",
                    help="per_query: the driver threads call search "
                    "directly; batched: they go through engine.serving() "
                    "(one plan-cached search per request on a pool of "
                    "driver-CPU width, identical in-flight requests "
                    "shared; the name is kept for cluster_scaling.py)")
    ap.add_argument("--mode", choices=("concurrent", "marginal"),
                    default="concurrent",
                    help="concurrent: driver-thread pool fires queries "
                    "(serving latency shape).  marginal: one "
                    "search_many_rows job at two query-set sizes; "
                    "marginal queries/sec = dQ/dWall cancels the per-job "
                    "fixed cost, exactly like the build cells' marginal "
                    "docs/sec — the throughput number that scales with "
                    "executors")
    ap.add_argument("--sizes", default="50,200",
                    help="marginal mode: small,big query-set sizes")
    ap.add_argument("--reps", type=int, default=3,
                    help="marginal mode: repetitions per size (min-merged)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.sources.corpus import (
        reference_queries,
    )

    spark = SparkSession.builder.appName("ctse-query-throughput").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    eng = SearchEngine(spark, args.index_dir).warm(postings=True)
    qs = reference_queries()

    if args.mode == "marginal":
        small, big = (int(x) for x in args.sizes.split(","))

        def qset(n: int) -> dict[str, str]:
            return {f"m{i}": qs[i % len(qs)]["text"] for i in range(n)}

        eng.search_many_rows(qset(small), k=10)  # steady state
        walls = {n: math.inf for n in (small, big)}
        for _ in range(args.reps):
            for n in (small, big):
                t0 = time.time()
                eng.search_many_rows(qset(n), k=10)
                walls[n] = min(walls[n], time.time() - t0)
        marg = (big - small) / (walls[big] - walls[small])
        print(json.dumps({
            "mode": "marginal",
            "sizes": [small, big],
            "walls": {str(n): round(w, 3) for n, w in walls.items()},
            "marginal_qps": round(marg, 2),
            "reps": args.reps,
        }))
        spark.stop()
        return

    for q in qs:  # steady state: codegen JIT + persisted-relation warm
        eng.search_topk_rows(q["text"], k=q["k"])

    server = eng.serving() if args.serving == "batched" else None
    if server is not None:  # one untimed pass through the server
        from concurrent.futures import wait
        wait([server.submit(q["text"], q["k"]) for q in qs])

    lat: list[float] = []

    def one(q) -> None:
        t0 = time.time()
        if server is not None:
            server.search(q["text"], k=q["k"])
        else:
            eng.search_topk_rows(q["text"], k=q["k"])
        lat.append(time.time() - t0)  # list.append is atomic under the GIL

    work = [q for _ in range(args.rounds) for q in qs]
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=args.threads) as ex:
        list(ex.map(one, work))
    wall = time.time() - t0

    lat.sort()
    out = {
        "queries": len(work),
        "seconds": round(wall, 2),
        "qps": round(len(work) / wall, 3),
        "p50_sec": round(lat[len(lat) // 2], 4),
        "p95_sec": round(lat[int(len(lat) * 0.95)], 4),
        "serving": args.serving,
    }
    if server is not None:
        out["batches"] = server.batches_run
        server.close()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
