"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ctse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] in this sandbox; on a real cluster the same code runs via
    spark-submit --py-files and these conf defaults still apply.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    # Make the package root importable by the python DAEMON (it launches
    # with the JVM's env PYTHONPATH, which normally holds only the spark
    # zips), so spark.python.daemon.module below can point at
    # fastdaemon — the per-task zipimport-TOC-re-read fix for workers
    # that never import this package (see fastdaemon docstring).  Must
    # happen before the gateway JVM starts; a no-op afterwards.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + _pp if _pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every shuffle at fine grains and let AQE coalesce by SIZE:
        # with grains == shuffle.partitions, one skewed reduce partition
        # (e.g. an encode bucket holding popular terms) becomes a straggler
        # task — measured as a 62s max-task on a 23s-mean stage; 128 grains
        # coalesce into size-balanced tasks instead
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                "128")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split sizing: since doc_id assignment went keys-only, the
        # corpus scan's split count IS the build's content-pass parallelism
        # (nothing re-shuffles the content afterwards).  The defaults
        # (128 MB splits, 4 MB per-file open cost) pack a few-hundred-MB
        # corpus of small files into 2-4 splits and starve every core past
        # the second — measured 52 s tokenize on 4 executors that runs 14 s
        # with balanced splits.  8 MB / 1 MB gives one task per few files at
        # sandbox scale; a 100 TB deployment gets thousands of splits either
        # way and can raise these via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.sql.files.openCostInBytes", "1048576")
        # local[N] runs executors inside the driver JVM.  Measured on this
        # workload: G1 (default) collapses under 16-32 mutator threads
        # (local[32] build 62s -> 30s just by switching collector), and a
        # moderate heap beats a huge one (16g < 48g with ParallelGC).  On a
        # real cluster executors have their own JVMs and G1 defaults are
        # fine — these two knobs are local-mode-specific.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # zipimport-guarded daemon: workers fork from it already patched
        # (plain-RDD workers otherwise pay a full zip-TOC re-read per
        # task on CPython 3.11 — see fastdaemon).  local masters only:
        # there the PYTHONPATH prepend above provably reaches the
        # daemon.  Cluster deployments that ship this package to the
        # executors (--py-files / pip) can set the same conf via
        # extra_conf; without it their workers run unguarded (slower,
        # never wrong) — importing the package patches nothing.
        builder = builder.config(
            "spark.python.daemon.module",
            "clinical_trial_searchengine_spark.fastdaemon",
        )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
