"""spark-submit entry point: run BM25 top-k queries against a built index.

    spark-submit --py-files ctse.zip scripts/submit_search.py \
        --index-dir /path/to/index --k 10 [--kernel pruned] [--meta] \
        "merge join filter" ["second query" ...]

Prints one JSON line per query: {"query": ..., "seconds": ...,
"hits": [[doc_id, score], ...]}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--kernel", choices=["exhaustive", "pruned", "wand_ref"],
                    default=None,
                    help="scoring kernel (default: chosen per query by df)")
    ap.add_argument("--meta", action="store_true",
                    help="join repo/path/commit onto the hits")
    ap.add_argument("--no-warm", action="store_true",
                    help="skip persisting postings+norms (one-shot query)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from clinical_trial_searchengine_spark.engine import SearchEngine

    spark = SparkSession.builder.appName("ctse-search").getOrCreate()
    eng = SearchEngine(spark, args.index_dir)
    if not args.no_warm:
        eng.warm()
    for q in args.queries:
        t0 = time.time()
        df = eng.search(q, k=args.k, kernel=args.kernel,
                        include_meta=args.meta)
        rows = df.collect()
        out = {
            "query": q,
            "seconds": round(time.time() - t0, 4),
            "hits": [
                [r["doc_id"], round(r["score"], 6)]
                + ([r["repo"], r["path"]] if args.meta else [])
                for r in rows
            ],
        }
        print(json.dumps(out))


if __name__ == "__main__":
    main()
