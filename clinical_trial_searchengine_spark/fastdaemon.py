"""Drop-in ``spark.python.daemon.module`` that fixes worker startup cost.

Every Python worker task runs ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``; on CPython 3.11 each
zipimporter in ``sys.path_importer_cache`` then re-reads its archive's
whole table of contents (pyspark.zip, the py4j src zip and the spark-core
JAR — 16 cached importer instances here), ~140 ms of worker CPU per call.
Plain pickled-RDD workers (``createDataFrame`` from Python rows,
``parallelize``) pay it as much as the engine's kernels do: a 1-row
``createDataFrame(...).write.parquet(...)`` was measured at 4+ seconds of
worker CPU spent exclusively in ``zipimport._read_directory``
(fork-following in-worker sampler; see OPTIMIZATION_r06.md).

Every worker is forked from the daemon, so running this module installs
``workerenv.install_zipimport_guard`` — the (mtime_ns, size) guard,
CPython 3.12's native semantics — once at daemon start, which covers them
all, and then hands over to the stock ``pyspark.daemon`` with argv intact.
Importing it imports the package (whose ``__init__`` patches nothing), so
the package root must be on the daemon's PYTHONPATH; ``session.get_spark``
puts it there for local masters and enables this module via
``spark.python.daemon.module``.  Sessions built without it keep the stock
daemon (slower, never wrong).
"""

from __future__ import annotations

from clinical_trial_searchengine_spark.workerenv import install_zipimport_guard

if __name__ == "__main__":
    import runpy

    install_zipimport_guard()

    # run the stock daemon exactly as `python -m pyspark.daemon <args>`
    # would; sys.argv[1:] (the worker module) passes through untouched
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
