"""N vs 4N EXECUTOR scaling on a real (single-host) Spark standalone cluster.

The north rule's criterion is throughput scaling efficiency >= 0.8 going
from N to 4N EXECUTORS via spark-submit.  local[1] -> local[4]
(bench_scaling.py) approximates that with task threads inside ONE JVM —
which adds a contention source a real cluster does not have: every task
shares one driver-side heap, one GC, one code cache.  This script measures
the rule's literal shape instead:

* a standalone master + one 4-core worker are launched on this host
  (spark-class org.apache.spark.deploy.{master.Master,worker.Worker});
* the SAME build job is spark-submit'ted (--py-files ctse.zip, client
  mode) twice per corpus size: spark.cores.max=1 (ONE 1-core executor
  JVM) and spark.cores.max=4 (FOUR 1-core executor JVMs);
* each executor is its own JVM with its own heap/GC and its own Python
  workers, so going 1 -> 4 adds only what a real cluster adds: more
  parallel kernels on the shared socket, plus network-free shuffle.

Two corpus sizes per level, marginal throughput, min-merge across load
windows — identical methodology to bench_scaling.py (see its docstring).
Results land in BENCH/cluster_cells.json; --report-only prints the
efficiency summary without running cells.

Usage:
  python scripts/cluster_scaling.py [--cells N] [--load-threshold L]
  python scripts/cluster_scaling.py --report-only
  python scripts/cluster_scaling.py --stop        # kill master/worker
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from bench_scaling import _corpus_dir  # noqa: E402  (shared corpus cache)

MASTER_URL = "spark://127.0.0.1:7077"
MASTER_REST = "http://127.0.0.1:8091/json/"
HIST = os.path.join(REPO, "BENCH", "cluster_cells.json")
SIZES = (50_000, 200_000)
EXECUTORS = (1, 4)
ZIP_PATH = "/tmp/ctse_pkg.zip"
PID_FILE = "/tmp/ctse_cluster_pids.json"


def _spark_env() -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_MASTER_HOST", "127.0.0.1")
    return env


def _spark_bin(name: str) -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", name)


def load1() -> float:
    """Busy cores measured from /proc/stat over 3s (user+nice+system+
    iowait+irq+steal), NOT /proc/loadavg: this sandbox's kernel reports a
    loadavg of ~2 with the box 100% idle (vmstat id=100, r<=1), so a
    loadavg gate blocks campaign cells on an idle machine indefinitely.
    Direct busy-core accounting measures the actual competition a cell
    would face."""

    def snap() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        idle = v[3]
        busy = sum(v) - idle
        return busy, idle

    b0, i0 = snap()
    time.sleep(3)
    b1, i1 = snap()
    db, di = b1 - b0, i1 - i0
    if db + di == 0:
        return 0.0
    ncpu = os.cpu_count() or 32
    return ncpu * db / (db + di)


def make_zip() -> None:
    with zipfile.ZipFile(ZIP_PATH, "w", zipfile.ZIP_DEFLATED) as zf:
        for path in glob.glob(
            os.path.join(REPO, "clinical_trial_searchengine_spark", "**", "*.py"),
            recursive=True,
        ):
            zf.write(path, os.path.relpath(path, REPO))


def master_alive() -> dict | None:
    try:
        with urllib.request.urlopen(MASTER_REST, timeout=3) as r:
            return json.load(r)
    except Exception:
        return None


def start_cluster() -> None:
    """Idempotently launch master (port 7077) + one 4-core worker."""
    state = master_alive()
    if state and any(
        w.get("state") == "ALIVE" for w in state.get("workers", [])
    ):
        return
    pids = {}
    if not state:
        m = subprocess.Popen(
            [_spark_bin("spark-class"),
             "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077",
             "--webui-port", "8091"],
            stdout=open("/tmp/ctse_master.log", "w"),
            stderr=subprocess.STDOUT, env=_spark_env(),
            start_new_session=True,
        )
        pids["master"] = m.pid
        for _ in range(60):
            if master_alive():
                break
            time.sleep(1)
        else:
            raise RuntimeError("master did not come up; /tmp/ctse_master.log")
    w = subprocess.Popen(
        [_spark_bin("spark-class"),
         "org.apache.spark.deploy.worker.Worker", MASTER_URL,
         "--cores", "4", "--memory", "72g", "--webui-port", "8092"],
        stdout=open("/tmp/ctse_worker.log", "w"),
        stderr=subprocess.STDOUT, env=_spark_env(),
        start_new_session=True,
    )
    pids["worker"] = w.pid
    for _ in range(60):
        state = master_alive()
        if state and any(
            wk.get("state") == "ALIVE" for wk in state.get("workers", [])
        ):
            break
        time.sleep(1)
    else:
        raise RuntimeError("worker did not register; /tmp/ctse_worker.log")
    with open(PID_FILE, "w") as f:
        json.dump(pids, f)


def stop_cluster() -> None:
    if os.path.exists(PID_FILE):
        with open(PID_FILE) as f:
            pids = json.load(f)
        for pid in pids.values():
            try:
                os.killpg(pid, signal.SIGTERM)
            except Exception:
                try:
                    os.kill(pid, signal.SIGTERM)
                except Exception:
                    pass
        os.remove(PID_FILE)


def materialize_corpora() -> None:
    missing = [n for n in SIZES if not os.path.exists(_corpus_dir(n))]
    for n in missing:
        _materialize_corpus(n)


def _materialize_corpus(n: int) -> None:
    from clinical_trial_searchengine_spark.session import get_spark
    from clinical_trial_searchengine_spark.sources.corpus import (
        generate_corpus_df,
    )

    spark = get_spark(master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    generate_corpus_df(spark, n, seed=42, partitions=max(64, n // 8000))\
        .write.mode("overwrite").parquet(_corpus_dir(n))
    spark.stop()


def _submit_cmd(n_execs: int, tail: list[str]) -> list[str]:
    """Common spark-submit conf for every cell — build and query cells must
    be config-identical apart from the job script so the 1-vs-4 ratio only
    measures executor count."""
    return [
        _spark_bin("spark-submit"),
        "--master", MASTER_URL,
        "--deploy-mode", "client",
        "--driver-memory", "8g",
        # same collector the local-mode cells measured 2x faster on this
        # workload (see session.py) — keep executor JVMs config-equivalent.
        # GC/JIT threads are pinned to the executor's CORE count, not the
        # HOST's: on this 32-core host a 1-core executor JVM defaults to
        # ~23 ParallelGC + ~12 C2 threads, so (a) the 4-exec cell runs
        # 4x35 service threads on 32 cores (event-log: stage taskSum
        # inflates 1.9-4.7x, pure-JVM cache stage 4.0s -> 14.8s), and
        # (b) the 1-exec cell silently borrows the idle socket for GC —
        # parallelism a real cgroup-limited 1-core container never has.
        # 2 GC threads per 1-core executor = the standard 2x-cores shape;
        # identical at both levels so the ratio measures executor count.
        # -Xmn1g -XX:-UseAdaptiveSizePolicy: FIXED small young gen so the
        # allocation-heavy string stages GC over RE-USED eden pages instead
        # of lazily faulting fresh heap.  This host's kernel page-zeroing
        # collapses under multi-process concurrency (jstack + /proc
        # forensics, 2026-08-19): with the default adaptive ~4g eden, the
        # regex/sha doc_meta stage measured 8x task-CPU inflation at 4
        # one-core executor JVMs (129.5 task-sec vs 14.9 at 1 executor for
        # identical work; local[4] in ONE JVM shows none).  Identical at
        # both levels, as always.
        "--conf", "spark.executor.extraJavaOptions="
        "-XX:+UseParallelGC -XX:ParallelGCThreads=2 -XX:CICompilerCount=2 "
        "-Xmn1g -XX:-UseAdaptiveSizePolicy",
        "--conf", "spark.driver.extraJavaOptions=-XX:+UseParallelGC",
        # Python-side twin of the same artifact: numpy/BLAS in each
        # executor's Python workers must not fan out to host cores either
        "--conf", "spark.executorEnv.OMP_NUM_THREADS=1",
        "--conf", "spark.executorEnv.OPENBLAS_NUM_THREADS=1",
        # glibc in the Python workers: the tokenize/encode kernels allocate
        # and free multi-MB numpy/Arrow buffers per batch; with the default
        # dynamic mmap threshold every large buffer is mmap'd on malloc and
        # munmap'd on free, so each batch re-faults hundreds of MB of zeroed
        # pages — kernel page-allocator work (sampled: the workers burn
        # mostly SYSTEM time at stage tails) that contends across the 4
        # executors' workers at 4x and single-threads at 1x.  Raising the
        # mmap/trim thresholds keeps those buffers on the reused heap:
        # pages fault once per worker, not once per batch.  Identical at
        # both levels; it removes kernel-side work, it does not shift the
        # measured ratio by config asymmetry.
        "--conf", "spark.executorEnv.MALLOC_MMAP_THRESHOLD_=134217728",
        "--conf", "spark.executorEnv.MALLOC_TRIM_THRESHOLD_=134217728",
        "--conf", "spark.executorEnv.MALLOC_ARENA_MAX=2",
        # pyarrow's default pool here is jemalloc, which the MALLOC_* pins
        # never governed (r4b/INVESTIGATION.md addendum) — route Arrow
        # buffers onto the glibc pool the pins DO govern, so worker-side
        # big buffers stay on the reused heap instead of mmap/munmap-
        # churning the same slow kernel page allocator
        "--conf", "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL=system",
        "--py-files", ZIP_PATH,
        "--conf", f"spark.cores.max={n_execs}",
        "--conf", "spark.executor.cores=1",
        "--conf", "spark.executor.memory=14g",  # match the 16g local-mode JVM
        "--conf", "spark.executor.memoryOverhead=2g",
        # 16 for BOTH levels: same plan shape, and fine-grained tasks let
        # 1-core executors reschedule around co-tenant steal (measured
        # 198.7s -> 151.8s at 4 exec / 200k under load)
        "--conf", "spark.sql.shuffle.partitions=16",
        # fine AQE grains so a skewed encode bucket coalesces into
        # size-balanced tasks instead of one straggler (see session.py)
        "--conf",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum=128",
        # scan splits are the content-pass parallelism now that doc_id
        # assignment is keys-only (no content re-shuffle): the 166 MB
        # 64-file corpus packs into TWO default-sized splits, idling 2 of
        # 4 executors through tokenize/doc_meta (measured 52 s vs 14 s).
        # Same values as session.py's sandbox defaults; identical at both
        # levels so the 1-vs-4 ratio is untouched.
        "--conf", "spark.sql.files.maxPartitionBytes=8388608",
        "--conf", "spark.sql.files.openCostInBytes=1048576",
        # locality matters: the build caches its ranged corpus + encode
        # relations per executor; wait=0 measured 2x slower at 4 exec
        # (161s vs 72s postings_write) from remote DISK_ONLY fetches
        "--conf", "spark.locality.wait=3s",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir=/dev/shm/ctse_spark_{os.getpid()}",
    ] + tail


def run_cell(n_execs: int, n_docs: int) -> dict | None:
    index_dir = f"/dev/shm/ctse_cluster_idx_{n_execs}_{os.getpid()}"
    shutil.rmtree(index_dir, ignore_errors=True)
    cmd = _submit_cmd(n_execs, [
        os.path.join(REPO, "scripts", "submit_build.py"),
        "--input", _corpus_dir(n_docs),
        "--index-dir", index_dir,
        "--shard-size", "50000",
        "--hot-df-threshold", str(max(1000, n_docs // 10)),
        # cluster shape: no input cache (re-scan beats caching content)
        "--no-persist-input",
    ])
    t0 = time.time()
    out = subprocess.run(cmd, capture_output=True, text=True,
                         env=_spark_env(), cwd=REPO, timeout=3600)
    wall = time.time() - t0
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    shutil.rmtree(index_dir, ignore_errors=True)
    shutil.rmtree(f"/dev/shm/ctse_spark_{os.getpid()}", ignore_errors=True)
    if not lines:
        print("cell failed:", out.stderr[-800:], flush=True)
        return None
    meta = json.loads(lines[-1])
    sec = round(meta["build_seconds"], 2)
    return {
        "executors": n_execs, "n_docs": n_docs, "build_sec": sec,
        "build_docs_per_sec": round(n_docs / sec, 1),
        "submit_wall_sec": round(wall, 2),
        "stage_sec": meta.get("stage_seconds"),
    }


def min_merge(got: dict) -> None:
    cells = {}
    if os.path.exists(HIST):
        with open(HIST) as f:
            cells = json.load(f)
    key = f"{got['executors']}:{got['n_docs']}"
    prev = cells.get(key)
    if prev is None or got["build_sec"] < prev["build_sec"]:
        cells[key] = got
    os.makedirs(os.path.dirname(HIST), exist_ok=True)
    with open(HIST, "w") as f:
        json.dump(cells, f, indent=1)


def report() -> dict | None:
    if not os.path.exists(HIST):
        return None
    with open(HIST) as f:
        cells = json.load(f)
    need = [f"{e}:{n}" for e in EXECUTORS for n in SIZES]
    if any(k not in cells for k in need):
        print(json.dumps({"incomplete": True, "have": sorted(cells)}))
        return None
    small, big = SIZES
    lo, hi = EXECUTORS
    marg = {
        e: (big - small)
        / (cells[f"{e}:{big}"]["build_sec"] - cells[f"{e}:{small}"]["build_sec"])
        for e in EXECUTORS
    }
    out = {
        "cells": cells,
        "marginal_docs_per_sec": {str(e): round(marg[e], 1) for e in EXECUTORS},
        "speedup": round(marg[hi] / marg[lo], 3),
        "scaling_efficiency": round(marg[hi] / marg[lo] / (hi / lo), 3),
    }
    print(json.dumps(out))
    return out


EPOCHS = os.path.join(REPO, "BENCH", "cluster_epochs.jsonl")


def run_paired_epochs(n_epochs: int, thresh: float) -> None:
    """Noise-robust alternative to min-merge for a host whose co-tenant
    load rarely drops: one EPOCH runs all four cells back-to-back in the
    order 1:small, 4:small, 4:big, 1:big (level means balanced under a
    linear load drift), computes the epoch's own marginal efficiency, and
    appends it to BENCH/cluster_epochs.jsonl.  The report is the MEDIAN
    efficiency over epochs: shared load inflates both levels of an epoch
    together and largely cancels in the ratio, so the median converges far
    faster than waiting for four independently-clean windows.  Cells are
    still min-merged into cluster_cells.json as a side effect."""
    small, big = SIZES
    for _ in range(n_epochs):
        while load1() > thresh:
            time.sleep(30)
        order = [(1, small), (4, small), (4, big), (1, big)]
        got: dict[tuple[int, int], dict] = {}
        start_load = load1()
        for e, n in order:
            r = run_cell(e, n)
            if r is None:
                break
            got[(e, n)] = r
            min_merge(r)
        if len(got) < 4:
            continue
        marg1 = (big - small) / (
            got[(1, big)]["build_sec"] - got[(1, small)]["build_sec"]
        )
        marg4 = (big - small) / (
            got[(4, big)]["build_sec"] - got[(4, small)]["build_sec"]
        )
        rec = {
            "cells": {f"{e}:{n}": got[(e, n)]["build_sec"] for e, n in order},
            "marginal_1": round(marg1, 1),
            "marginal_4": round(marg4, 1),
            "efficiency": round(marg4 / marg1 / 4, 3),
            "load_at_start": start_load,
            "load_at_end": load1(),
            # per-cell stage walls: which stage ate a noisy epoch
            "stages": {
                f"{e}:{n}": got[(e, n)].get("stage_sec") for e, n in order
            },
        }
        with open(EPOCHS, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)


QHIST = os.path.join(REPO, "BENCH", "query_cluster_cells.json")
QUERY_DOCS = 200_000
# Marginal-throughput query cells run on a 1M-doc index: at 200k docs a
# batched query's executor work is small enough that per-job fixed cost
# dominates and the 1-vs-4 ratio measures the driver, not the cluster.
# 10^12-file scale is the regime the north rule cares about — bigger
# per-query work is the faithful cell.
MARGINAL_QUERY_DOCS = 1_000_000
# shard_size per corpus: ~2-4 scoring tasks per executor slot at the
# 4-exec level; at 200k docs fewer/bigger shards win (per-task overhead),
# at 1M docs 16 shards balance the waves.
QUERY_SHARDS = {200_000: 50_000, 1_000_000: 62_500}


def ensure_query_index(docs: int = QUERY_DOCS) -> str:
    """Build the shared warmed-query index ONCE (4 executors, fast) and
    reuse it for every query cell — query cells must read identical bytes
    so the 1-vs-4 qps ratio only measures executor count."""
    index_dir = f"/dev/shm/ctse_query_idx_{docs}"
    if os.path.exists(os.path.join(index_dir, "meta.json")):
        return index_dir
    if not os.path.exists(_corpus_dir(docs)):
        _materialize_corpus(docs)
    shutil.rmtree(index_dir, ignore_errors=True)
    cmd = _submit_cmd(4, [
        os.path.join(REPO, "scripts", "submit_build.py"),
        "--input", _corpus_dir(docs),
        "--index-dir", index_dir,
        "--shard-size", str(QUERY_SHARDS[docs]),
        "--hot-df-threshold", str(docs // 10),
    ])
    out = subprocess.run(cmd, capture_output=True, text=True,
                         env=_spark_env(), cwd=REPO, timeout=3600)
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        raise RuntimeError("query-index build failed: " + out.stderr[-800:])
    return index_dir


def run_query_cell(n_execs: int, index_dir: str,
                   threads: int = 16, rounds: int = 5,
                   serving: str = "per_query",
                   mode: str = "concurrent",
                   docs: int = QUERY_DOCS) -> dict | None:
    """One concurrent-query throughput cell.

    threads=16 (identical at BOTH levels) so the cell measures the
    CLUSTER's saturated throughput, not the driver pool's: at 8 threads
    the 4-exec cell measured qps 7.431 with p50 1.0071s = 94% of the
    8/p50 = 7.94 q/s THREAD ceiling — the pool, not the executors, was
    the bottleneck, and the 1-vs-4 ratio (0.748) understated the engine.
    A 1-core executor saturates at ~2.5 q/s regardless of offered load
    (queries queue), so raising the offered load at both levels only
    lets the level with spare capacity show it."""
    cmd = _submit_cmd(n_execs, [
        os.path.join(REPO, "scripts", "submit_query_throughput.py"),
        "--index-dir", index_dir,
        "--threads", str(threads),
        "--rounds", str(rounds),
        "--serving", serving,
        "--mode", mode,
    ])
    out = subprocess.run(cmd, capture_output=True, text=True,
                         env=_spark_env(), cwd=REPO, timeout=1800)
    shutil.rmtree(f"/dev/shm/ctse_spark_{os.getpid()}", ignore_errors=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        print("query cell failed:", out.stderr[-800:], flush=True)
        return None
    meta = json.loads(lines[-1])
    meta.update({"executors": n_execs, "n_docs": docs,
                 "threads": threads, "serving": serving, "mode": mode})
    return meta


def _qkey(got: dict) -> str:
    if got.get("mode") == "marginal":
        return f"marginal:{got['executors']}:{got['n_docs']}"
    return f"{got.get('serving', 'per_query')}:{got['executors']}:{got['n_docs']}"


def _load_qcells() -> dict:
    cells = {}
    if os.path.exists(QHIST):
        with open(QHIST) as f:
            cells = json.load(f)
    # migrate pre-serving-mode keys ("1:200000" = per_query concurrent)
    _migrate_qcell_keys(cells)
    return cells


def _migrate_qcell_keys(cells: dict) -> None:
    """Pre-serving-mode key migration ("1:200000" -> "per_query:1:200000")
    — shared by this script's cell loader and gen_bench_baseline.py so
    the two can never disagree on cell identity."""
    for key in [k for k in cells if k.count(":") == 1]:
        cells.setdefault(f"per_query:{key}", cells.pop(key))


def merge_query(got: dict) -> None:
    """Concurrent cells max-merge on qps (steal only lowers throughput);
    marginal cells min-merge the per-size walls (the build-cell rule) and
    recompute marginal qps from the merged minima."""
    cells = _load_qcells()
    key = _qkey(got)
    prev = cells.get(key)
    if got.get("mode") == "marginal":
        if prev is not None:
            walls = {
                n: min(float(prev["walls"][n]), float(got["walls"][n]))
                for n in got["walls"]
            }
            small, big = got["sizes"]
            d_wall = walls[str(big)] - walls[str(small)]
            if d_wall <= 0:
                # per-size minima taken in different windows can cross
                # (big's lucky wall <= small's): the fixed-cost-cancelling
                # pairing is broken, so keep the best SINGLE-window pair
                # (the incoming cell if its own marginal beats the stored
                # one) rather than recording a bogus/NaN merged marginal.
                if got["marginal_qps"] > prev["marginal_qps"]:
                    cells[key] = got
                return _save_qcells(cells)
            got = {
                **got,
                "walls": {n: round(w, 3) for n, w in walls.items()},
                "marginal_qps": round((big - small) / d_wall, 2),
            }
        cells[key] = got
    elif prev is None or got["qps"] > prev["qps"]:
        cells[key] = got
    _save_qcells(cells)


def _save_qcells(cells: dict) -> None:
    os.makedirs(os.path.dirname(QHIST), exist_ok=True)
    with open(QHIST, "w") as f:
        json.dump(cells, f, indent=1)


def query_report() -> dict | None:
    cells = _load_qcells()
    if not cells:
        return None
    lo, hi = EXECUTORS
    out = {"query_cells": cells}

    def pair(family: str, docs: int, metric: str):
        a, b = cells.get(f"{family}:{lo}:{docs}"), cells.get(
            f"{family}:{hi}:{docs}")
        if a is None or b is None:
            return None
        return {
            "lo": a[metric], "hi": b[metric],
            "speedup": round(b[metric] / a[metric], 3),
            "efficiency": round(b[metric] / a[metric] / (hi / lo), 3),
        }

    out["per_query"] = pair("per_query", QUERY_DOCS, "qps")
    out["batched"] = pair("batched", QUERY_DOCS, "qps")
    out["marginal"] = pair("marginal", MARGINAL_QUERY_DOCS, "marginal_qps")
    print(json.dumps(out))
    return out


# the full query-cell matrix one campaign round covers: both serving
# shapes on the 200k index, plus marginal-throughput cells on the 1M
# index (docs, serving, mode) per executor level
QUERY_MATRIX = [
    (QUERY_DOCS, "per_query", "concurrent"),
    (QUERY_DOCS, "batched", "concurrent"),
    (MARGINAL_QUERY_DOCS, "batched", "marginal"),
]


def run_query_campaign(n_cells: int, thresh: float) -> None:
    combos = [
        (docs, serving, mode, e)
        for docs, serving, mode in QUERY_MATRIX
        for e in EXECUTORS
    ]
    done = 0
    while done < n_cells:
        if load1() > thresh:
            time.sleep(30)
            continue
        docs, serving, mode, e = combos[done % len(combos)]
        index_dir = ensure_query_index(docs)
        got = run_query_cell(e, index_dir, serving=serving, mode=mode,
                             docs=docs)
        done += 1
        if got:
            merge_query(got)
            print(json.dumps(got), flush=True)
    query_report()


def epoch_summary() -> dict | None:
    if not os.path.exists(EPOCHS):
        return None
    effs = []
    with open(EPOCHS) as f:
        for line in f:
            effs.append(json.loads(line)["efficiency"])
    if not effs:
        return None
    effs.sort()
    out = {
        "n_epochs": len(effs),
        "median_efficiency": effs[len(effs) // 2],
        "efficiencies": effs,
    }
    print(json.dumps(out))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cells", type=int, default=8,
                    help="number of cell runs (round-robin, min-merged)")
    ap.add_argument("--paired", type=int, default=0,
                    help="run N paired epochs instead of round-robin cells")
    ap.add_argument("--query-cells", type=int, default=0,
                    help="run N concurrent-query throughput cells "
                    "(alternating 1/4 executors) against a shared index")
    ap.add_argument("--load-threshold", type=float, default=0.8)
    ap.add_argument("--report-only", action="store_true")
    ap.add_argument("--stop", action="store_true")
    args = ap.parse_args()
    if args.stop:
        stop_cluster()
        return
    if args.report_only:
        report()
        epoch_summary()
        query_report()
        return
    materialize_corpora()
    make_zip()
    start_cluster()
    if args.query_cells:
        run_query_campaign(args.query_cells, args.load_threshold)
        return
    if args.paired:
        run_paired_epochs(args.paired, args.load_threshold)
        report()
        epoch_summary()
        return
    order = [(e, n) for e in EXECUTORS for n in SIZES]
    done = 0
    while done < args.cells:
        if load1() > args.load_threshold:
            time.sleep(30)
            continue
        e, n = order[done % len(order)]
        got = run_cell(e, n)
        done += 1
        if got:
            min_merge(got)
            print(json.dumps(got), flush=True)
    report()


if __name__ == "__main__":
    main()
