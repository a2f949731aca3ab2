"""Hardware-ceiling probe for the build's dominant kernels (no Spark).

The two-parallelism build cells (scripts/bench_scaling.py) measure the whole
engine; this probe isolates the HARDWARE by running the exact hot kernels of
the index build — the Arrow-native analyzer (``analyze_flat_arrow``: byte-LUT
tokenize, dictionary encode, radix group) and the build's group encode body
(``plans/build.py::_encode_term_arrays`` with the default "pfor" postings
codec) — in P identical, fully independent OS processes,
each on its own private copy of the same corpus chunk.  There is no Spark,
no JVM, no shuffle, no shared state: if per-process kernel time grows from
P=1 to P=4, the slowdown is the shared socket (memory bandwidth / LLC), not
the engine.  The measured ratio t(1)/t(4) is therefore the parallel-
efficiency CEILING any 4-way-parallel execution of this workload can reach
on this box, and the number the engine's local[1]->local[4] marginal
efficiency should be compared against.

Each P is sampled `iters` times and the MIN per-process time is kept (the
host is a shared tenant; min over load windows estimates the unloaded cost,
same methodology as BENCH/scaling_cells.json).

Usage: python scripts/kernel_ceiling_probe.py [n_docs] [iters]
Writes BENCH/kernel_ceiling.json and prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROCS = (1, 4, 8)


def _kernel_cell(args) -> float:
    """One process's work: generate its own chunk (untimed), then run the
    build's hot kernels (timed): analyze_flat_arrow -> term take ->
    _encode_term_arrays(codec="pfor"), the pack and encode kernels' cores."""
    n_docs, seed = args
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_flat_arrow,
    )
    from clinical_trial_searchengine_spark.plans.build import (
        _encode_term_arrays,
    )
    from clinical_trial_searchengine_spark.sources.corpus import (
        generate_corpus_pandas,
    )

    pdf = generate_corpus_pandas(n_docs, seed=seed)
    texts = pa.array(pdf["content"].tolist(), type=pa.string())
    t0 = time.time()
    row_idx, dict_idx, dictionary, tfs, _lens = analyze_flat_arrow(texts)
    terms = pc.take(dictionary, pa.array(dict_idx))
    out = _encode_term_arrays(
        0, 0, terms, np.asarray(row_idx, dtype=np.uint64),
        np.asarray(tfs, dtype=np.uint64), codec="pfor",
    )
    assert out.num_rows == len(np.unique(dict_idx))
    return time.time() - t0


def measure(procs: int, n_docs: int) -> float:
    """Per-process kernel seconds with `procs` simultaneous processes."""
    with mp.get_context("spawn").Pool(procs) as pool:
        times = pool.map(
            _kernel_cell, [(n_docs, 1000 + i) for i in range(procs)]
        )
    return max(times)  # slowest process = the parallel wall-clock cost


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    best: dict[int, float] = {}
    for it in range(iters):
        for p in PROCS:
            while load1() > 1.0:
                time.sleep(20)
            t = measure(p, n_docs)
            if p not in best or t < best[p]:
                best[p] = t
            print(
                json.dumps(
                    {"iter": it, "procs": p, "per_proc_sec": round(t, 3)}
                ),
                flush=True,
            )
    out = {
        "n_docs_per_proc": n_docs,
        "per_proc_sec": {str(p): round(best[p], 3) for p in PROCS},
        "ceiling_eff_4x": round(best[1] / best[4], 3),
        "ceiling_eff_8x": round(best[1] / best[8], 3),
        "note": (
            "independent processes, no Spark/JVM/shuffle; per-process "
            "slowdown at P>1 is pure hardware (memory bandwidth/LLC) — "
            "the parallel-efficiency ceiling for the build kernels"
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "kernel_ceiling.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
