"""spark-submit entry point: build the inverted index.

Cluster usage (north rule: `spark-submit --py-files` on multi-executor
clusters):

    zip -r ctse.zip clinical_trial_searchengine_spark
    spark-submit --py-files ctse.zip scripts/submit_build.py \
        --input /path/to/corpus_parquet_or_iceberg_table \
        --index-dir /path/to/index \
        [--mode standard|porter] [--shard-size 100000] \
        [--hot-df-threshold 100000] [--format parquet|iceberg]

Local smoke:
    python scripts/submit_build.py --input /tmp/corpus --index-dir /tmp/idx

The session comes from spark-submit's conf (master, executors, memory);
this script only adds engine-appropriate SQL conf defaults if unset.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="corpus path/table")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--mode", default="standard", choices=["standard", "porter"])
    ap.add_argument("--shard-size", type=int, default=100_000)
    ap.add_argument("--hot-df-threshold", type=int, default=100_000)
    ap.add_argument("--max-salts", type=int, default=32)
    ap.add_argument("--resume-groups", type=int, default=4)
    ap.add_argument("--no-verify-sha", action="store_true")
    ap.add_argument("--no-persist-input", action="store_true",
                    help="skip caching the input (recommended on clusters "
                    "reading Iceberg — let the scans re-read)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from clinical_trial_searchengine_spark.plans.build import build_index

    spark = SparkSession.builder.appName("ctse-build").getOrCreate()
    for key, val in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ]:
        spark.conf.set(key, val)

    if args.format == "iceberg":
        corpus = spark.read.format("iceberg").load(args.input)
    else:
        corpus = spark.read.parquet(args.input)

    meta = build_index(
        spark,
        corpus,
        args.index_dir,
        mode=args.mode,
        shard_size=args.shard_size,
        hot_df_threshold=args.hot_df_threshold,
        max_salts=args.max_salts,
        n_resume_groups=args.resume_groups,
        verify_sha=not args.no_verify_sha,
        persist_input=not args.no_persist_input,
    )
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
