"""Benchmark of the Spark full-text engine: index builds and query serving.

Run from the repository root::

    python3 ftbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads (``workloads.py`` says what each metric means in each):

* ``bulk_build`` — three timed full builds of the corpus through
  ``SearchEngine.build``, then distinct queries on the newest index, a
  few of them sent twice;
* ``serve`` — a warmed index under one client sending mostly repeated
  queries (phase A), then ``nproc`` clients through ``engine.serving()``
  (phase B).

Inputs come from ``--seed`` only: an 8k-document corpus written to parquet
under ``.ftbench_tmp/`` (removed at exit) and seeded query logs.  Spark runs
``local[nproc / 2]`` with as many shuffle partitions (``Bench.slots``).

Every answer is checked, after the timed phase, against the BM25 oracle of
``tests/oracle.py``, and the checker proves itself on a small corpus first.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (``layers.py``), under the names and
units ``BENCHMARK.json`` lists.  A traced run also writes its spans to
``.ftbench_out/trace-<workload>-seed<seed>.jsonl`` and prints self time per
layer and, when an untraced run with the same workload, seed and seconds
left its result in ``.ftbench_out/``, the tracing overhead.
Exit code 1 means an answer check failed; 2 means the repository is not
there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NEEDED = ["clinical_trial_searchengine_spark/engine.py", "tests/oracle.py",
          "BENCHMARK.json"]
SELF_TEST_DOCS = 600


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json lists under
    ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def self_test_checker(b) -> list[str]:
    import pandas as pd

    import check
    import inputs
    from clinical_trial_searchengine_spark.sources.corpus import (
        generate_corpus_pandas,
    )

    pdf = generate_corpus_pandas(SELF_TEST_DOCS, seed=42)
    # a second copy of doc 0 under another key: "uid0doc" then ties
    dup = pdf.iloc[[0]].assign(path="selftest/copy.py", commit="0" * 40)
    pdf = pd.concat([pdf, dup], ignore_index=True)
    queries = inputs.distinct_log(42, 9, 30, SELF_TEST_DOCS) + [
        ("uid0doc", 10), ("def", 100), ("license", 100)]
    ana = inputs.analyze_frame(pdf, 0, frozenset(inputs.query_terms(queries)))
    return check.self_test(check.load_oracle_class(b.root), ana, pdf,
                           queries)


def doc_keys(b) -> dict[int, tuple[str, str, str]]:
    """Engine doc_id -> (repo, path, commit) of the final index."""
    rows = (b.last_engine.handle().doc_meta_df()
            .select("doc_id", "repo", "path", "commit").collect())
    return {int(r[0]): (r[1], r[2], r[3]) for r in rows}


def check_answers(b, key_of_doc):
    import check

    ck = check.Checker()
    oracle_cls = check.load_oracle_class(b.root)
    names = sorted({n for ns in b.state_rows.values() for n in ns})
    ana = b.oracle_analysis(names)
    for state, answers in b.answers.items():
        oracle = check.oracle_for(oracle_cls, ana,
                                  b.rows_of(b.state_rows[state]))
        if state in b.multi_gen_states:
            ck.multi_gen(oracle, answers, key_of_doc, state)
        else:
            ck.single_gen(oracle, answers, state)
    phase_a = b.answers.get("corpus", {})
    for key, variants in b.answers.get("phase_b", {}).items():
        if key in phase_a:
            ck.expect(
                all(check.same_ranked(v, phase_a[key][0]) for v in variants),
                f"phase B answer differs from phase A: {key[0]!r}")
    return ck


def stop_children(timeout: float = 30.0) -> None:
    """Wait for every child process to end; kill what outlives
    ``timeout``."""
    from multiprocessing import resource_tracker

    from tracing import descendants

    # the spawn pools' semaphore tracker lives until asked to stop
    resource_tracker._resource_tracker._stop()
    deadline = time.time() + timeout
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def report(b, ck, selftest_errors, per_layer) -> dict:
    e2e = metric_units("end_to_end")
    print(f"ftbench {b.workload} seed={b.seed} seconds={b.seconds} "
          f"trace={int(b.tracer.enabled)} cores={b.cores} slots={b.slots} "
          f"docs={b.n}")
    for name, unit in e2e.items():
        print(f"  {name:28s} {b.metrics[name]:12.4f} {unit}")
    for name, value in b.info.items():
        print(f"  {name:28s} {value:>12s}")
    ratio = b.failed / max(1, b.attempted)
    print(f"  {'failed_op_ratio':28s} {ratio:12.4f} ratio "
          f"({b.failed} of {b.attempted} ops)")
    for e in b.errors:
        print(f"  failed op: {e}")
    print(f"  answers checked {ck.checked}, failures {len(ck.failures)}; "
          f"checker self-test "
          f"{'passed' if not selftest_errors else 'FAILED'}")
    for f in ck.failures + selftest_errors:
        print(f"  check failure: {f}")
    if per_layer is not None:
        print("  self time by layer (s):")
        for layer, secs in sorted(b.tracer.self_seconds().items()):
            print(f"    {layer:26s} {secs:10.3f}")
        untraced = os.path.join(b.out_dir, b.result_name(0))
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            print("  tracing overhead (traced - untraced, same seed and "
                  "seconds; one pair of runs, so it includes run-to-run "
                  "noise):")
            for name, unit in e2e.items():
                print(f"    {name:26s} {b.metrics[name] - base[name]:+12.4f}"
                      f" {unit}")
        else:
            print("  tracing overhead: no untraced result for this seed in "
                  f"{b.out_dir}")
        print(f"  time inside the tracer: {b.tracer.cost_s:.4f} s; spans: "
              f"{len(b.tracer.spans)}")
    values, units = ((b.metrics, e2e) if per_layer is None else
                     (per_layer, metric_units("per_layer")))
    if set(values) != set(units):
        raise RuntimeError("metrics computed and listed in BENCHMARK.json "
                           f"differ: {sorted(set(values) ^ set(units))}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
    return {"correct": ck.ok and not selftest_errors,
            "attempted": b.attempted, "failed": b.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    missing = [p for p in NEEDED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"ftbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    import layers
    import workloads

    t_run = time.perf_counter()
    b = workloads.Bench(args.workload, args.seed, args.seconds,
                        bool(args.trace), ROOT)
    os.makedirs(b.tmp)
    os.makedirs(b.out_dir, exist_ok=True)
    per_layer = None
    try:
        selftest_errors = self_test_checker(b)
        workloads.WORKLOADS[args.workload](b)
        if args.trace:
            layers.sweep(b)
            micro = layers.micro(b)
        key_of_doc = doc_keys(b) if b.multi_gen_states else {}
        b.tracer.resolve_counts()
        if args.trace:
            per_layer = layers.per_layer(b, micro)
        b.stop_session()
        ck = check_answers(b, key_of_doc)
    finally:
        b.stop_session()
        stop_children()
        shutil.rmtree(b.tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.tmp))
        except OSError:
            pass  # another run's temp dir is still there
    if args.trace:
        b.tracer.write(os.path.join(
            b.out_dir, f"trace-{b.workload}-seed{b.seed}.jsonl"))
    b.info["run_wall_s"] = f"{time.perf_counter() - t_run:.1f}"
    result = report(b, ck, selftest_errors, per_layer)
    with open(os.path.join(b.out_dir, b.result_name(args.trace)), "w") as f:
        json.dump({"e2e": b.metrics, "info": b.info, "result": result,
                   "query_ms": [[q.text, q.k, q.first, q.plan_s * 1e3,
                                 q.exec_s * 1e3] for q in b.queries],
                   "served_ms": [x * 1e3 for x in b.served.lat_s]}, f)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
