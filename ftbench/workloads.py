"""The workloads, timed from outside through the engine's public calls
(``engine``, ``plans.build``, ``plans.query``, ``serving``).

Both workloads report the same four end-to-end metrics; what each one
measures follows the workload's traffic:

=========================== ======================== ========================
metric                      bulk_build               serve
=========================== ======================== ========================
setup_s                     session + first full     session + build +
                            build                    warm()
throughput_per_s            corpus docs / fastest    phase-B requests /
                            of 3 build walls         phase-B wall
query_p50_ms                distinct texts, each     phase A: one client,
                            new to the new index     mostly repeated texts
index_bytes_per_input_byte  on-disk index bytes / UTF-8 content bytes
=========================== ======================== ========================

The metric names and units are read from ``BENCHMARK.json`` (``run.py``).

Each run also prints ``peak_rss_mb``, the peak summed RSS of this process
and its children, unbounded (see ``Bench.finish_metrics``).

A query's latency is ``search()`` plus ``collect()``; a serving request's is
submit to result.  Answers are recorded during the timed phase and checked
against the oracle after it (``run.check_answers``).
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import inputs
from inputs import query_key, query_terms
from tracing import RssSampler, Tracer

# bulk_build: timed builds per run.  A fresh JVM's builds keep getting
# faster through its fourth build (JIT), so the builds are not alike: the
# fastest of the three, the most settled, is the steadiest figure per run
# (the estimator bench.py uses too).
BUILDS = 3
# bulk_build: distinct texts sent after the builds; any 40 consecutive
# texts of a log hold each of the 20 reference shapes twice
QUERIES = 40
REPEATS = 6  # bulk_build: how many of them are sent a second time
# untimed distinct queries before the timed ones, texts not in the timed
# log: after the builds, a fresh JVM's first 20 distinct queries have a
# ~13% higher p50 than its next 20
WARMUP_QUERIES = 12
REQUEST_TIMEOUT_S = 60.0


def build_kwargs(n_docs: int) -> dict:
    """bench.py's shard and hot-term settings."""
    return dict(mode="standard", shard_size=max(4096, n_docs // 8),
                hot_df_threshold=max(1000, n_docs // 10))


def percentile(values, q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] \
        if len(values) > 1 else values[0]


def tail(values) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p80 with at least ten samples beyond."""
    for q in (99, 95, 90, 80):
        if len(values) * (100 - q) / 100 >= 10:
            return q, percentile(values, q)
    return None


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


@dataclass
class Query:
    """One single-client query: its timings and answer."""

    text: str
    k: int
    first: bool  # the handle had not seen this query since it opened
    plan_s: float = 0.0
    exec_s: float = 0.0
    rows: list | None = None
    request: str = ""
    probe: bool = False  # a uid probe after a write, not a log query

    @property
    def latency_s(self) -> float:
        return self.plan_s + self.exec_s


@dataclass
class Served:
    lat_s: list = field(default_factory=list)
    wall_s: float = 0.0
    batches: int = 0
    queries: int = 0


class Bench:
    """One run: inputs, the Spark session, op accounting and results."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        # Spark task slots: half the cores, so the JVM's JIT and GC
        # threads, the Python driver and other load on the host do not
        # queue behind the tasks.  On 4 cores with two busy processes
        # beside the benchmark, the fastest of three 10k-doc builds slowed
        # by 25% at 4 slots and by 12% at 2; on an idle host builds run
        # 5-20% slower at 2 slots and queries take as long
        self.slots = max(1, self.cores // 2)
        self.n = inputs.N_DOCS
        self.tmp = os.path.join(root, ".ftbench_tmp",
                                f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".ftbench_out")
        self.tracer = Tracer(trace)
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self.parts: dict[str, list[inputs.Part]] = {}
        self.content_bytes: dict[inputs.Part, int] = {}
        # answers by index state: {state: {(text, k): [ranked, ...]}}
        self.answers: dict[str, dict[tuple, list]] = {}
        self.queries: list[Query] = []  # timed queries; warm-ups are cleared
        self._request_ids = itertools.count()
        self.plan_seen: set[tuple] = set()
        self.builds: list[tuple[float, dict]] = []  # (wall_s, build meta)
        self.append_fresh_s: list[float] = []  # append call -> probe answer
        self.served = Served()
        self.last_engine = None
        self.final_state = ""
        self.state_rows: dict[str, list[str]] = {}  # state -> input names
        self.multi_gen_states: set[str] = set()
        self.spark = None
        self.setup_s = 0.0
        self.metrics: dict[str, float] = {}
        self.info: dict[str, str] = {}

    def result_name(self, trace: int) -> str:
        return (f"{self.workload}-seed{self.seed}-s{self.seconds:g}"
                f"-trace{trace}.json")

    # -- op accounting -------------------------------------------------------

    def record(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 10:
                    self.errors.append(what)

    def span(self, name: str, layer: str, **kw):
        return self.tracer.span(name, layer, **kw)

    # -- inputs ---------------------------------------------------------------

    def write_inputs(self, ranges: dict[str, tuple[int, int, int]]) -> None:
        """``ranges``: {name: (start, stop, files)} of generator rows."""
        new = []
        for name, (a, b, files) in ranges.items():
            self.parts[name] = inputs.plan_parts(self.tmp, name, a, b, files)
            new += self.parts[name]
        self.content_bytes.update(
            inputs.write_parts(self.seed, new, self.cores))

    def frame(self, name: str):
        return self.spark.read.parquet(os.path.join(self.tmp, name))

    def input_bytes(self, names) -> int:
        return sum(self.content_bytes[p] for n in names
                   for p in self.parts[n])

    # -- session --------------------------------------------------------------

    def start_session(self) -> None:
        """Spark on local[slots] with as many shuffle partitions; every
        scratch file (Spark, JVM, Python) lands in the run's temp dir."""
        scratch = os.path.join(self.tmp, "scratch")
        os.makedirs(scratch, exist_ok=True)
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
        os.environ.update({
            "TMPDIR": scratch,
            "SPARK_LOCAL_DIRS": scratch,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
            "SPARK_LAUNCHER_OPTS": jvm_opts,
            # the engine's default collector, plus the scratch dir
            "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC {jvm_opts}",
        })
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": scratch}
        if self.tracer.enabled:  # keep every job for the span counts
            conf["spark.ui.retainedJobs"] = "1000000"
            conf["spark.ui.retainedStages"] = "1000000"
        from clinical_trial_searchengine_spark.session import get_spark

        with self.span("get_spark", "session"):
            self.spark = get_spark(
                app_name="ftbench", master=f"local[{self.slots}]",
                shuffle_partitions=self.slots, extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark.sparkContext)

    def stop_session(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for every child."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a stuck JVM is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # -- engine calls ---------------------------------------------------------

    def engine(self, index: str):
        from clinical_trial_searchengine_spark.engine import SearchEngine

        return SearchEngine(self.spark, os.path.join(self.tmp, index))

    def build(self, eng, corpus_name: str) -> dict:
        self.plan_seen.clear()
        t0 = time.perf_counter()
        with self.span("build", "plans.build"):
            meta = eng.build(self.frame(corpus_name), **build_kwargs(self.n))
        self.builds.append((time.perf_counter() - t0, meta))
        self.record(True)
        return meta

    def open_warm(self, eng) -> None:
        self.plan_seen.clear()
        with self.span("open", "plans.query"):
            eng.handle()
        with self.span("warm", "plans.query"):
            eng.warm()

    def query(self, eng, text: str, k: int, state: str,
              probe: bool = False) -> Query | None:
        """One single-client ``search()`` + ``collect()``."""
        key = query_key(text, k)
        q = Query(text, k, key not in self.plan_seen,
                  request=f"q{next(self._request_ids)}", probe=probe)
        try:
            t0 = time.perf_counter()
            with self.span("search", "plans.query", request=q.request):
                df = eng.search(text, k)
            t1 = time.perf_counter()
            with self.span("collect", "plans.query", request=q.request):
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            self.record(False, f"query {text!r}: {e!r}")
            return None
        self.record(True)
        self.plan_seen.add(key)
        q.plan_s, q.exec_s = t1 - t0, t2 - t1
        q.rows = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        self.queries.append(q)
        self.answers.setdefault(state, {}).setdefault((text, k), []).append(
            q.rows)
        return q

    def serve_burst(self, eng, requests, deadline: float | None,
                    state: str) -> Served:
        """``nproc`` closed-loop clients through ``engine.serving()``:
        client c sends requests c, c + nproc, ... until ``deadline`` (or
        the list ends).  Latency is submit to result."""
        out = Served()
        srv = eng.serving()
        b0, q0 = srv.batches_run, srv.queries_served
        before = self.tracer.ungrouped_jobs()
        answers = self.answers.setdefault(state, {})

        with self.span("serve_burst", "serving") as phase:
            t_start = time.perf_counter()
            ends = [t_start]

            def client(c: int) -> None:
                for j in range(c, len(requests), self.cores):
                    if deadline is not None and time.perf_counter() > deadline:
                        return
                    text, k = requests[j]
                    t0 = time.perf_counter()
                    with self.span("request", "serving", request=f"b{j}",
                                   parent=phase):
                        try:
                            rows = srv.submit(text, k).result(
                                timeout=REQUEST_TIMEOUT_S)
                        except Exception as e:  # noqa: BLE001 - counted
                            self.record(False, f"serve {text!r}: {e!r}")
                            continue
                    t1 = time.perf_counter()
                    self.record(True)
                    with self._lock:
                        out.lat_s.append(t1 - t0)
                        ends.append(t1)
                        answers.setdefault((text, k), []).append(
                            [(int(d), float(s)) for d, s in rows])

            threads = [threading.Thread(target=client, args=(c,),
                                        name=f"ftbench-client-{c}")
                       for c in range(self.cores)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            out.wall_s = max(ends) - t_start
        out.batches = srv.batches_run - b0
        out.queries = srv.queries_served - q0
        srv.close()
        if phase is not None:
            self.tracer.count_jobs(phase,
                                   self.tracer.ungrouped_jobs() - before)
        return out

    def append(self, eng, name: str) -> None:
        """``add_documents`` of one input; then re-open, warm and probe
        for the newest doc's uid token."""
        part = self.parts[name]
        newest = part[-1].stop - 1
        n_new = sum(p.stop - p.start for p in part)
        self.plan_seen.clear()
        t0 = time.perf_counter()
        with self.span("add_documents", "streaming.incremental"):
            out = eng.add_documents(self.frame(name))
        if int(out.get("new_docs", -1)) != n_new or out.get("compacted"):
            raise RuntimeError(f"append of {name} returned {out}")
        self.record(True)
        self.open_warm(eng)
        if self.query(eng, f"uid{newest}doc", 10, name, probe=True):
            self.append_fresh_s.append(time.perf_counter() - t0)
        self.multi_gen_states.add(name)

    # -- results --------------------------------------------------------------

    def finish_metrics(self, throughput: float, query_lat_s, index_dirs,
                       input_names) -> None:
        self.metrics = {
            "setup_s": self.setup_s,
            "throughput_per_s": throughput,
            "query_p50_ms": statistics.median(query_lat_s) * 1e3,
            "index_bytes_per_input_byte": (
                sum(dir_bytes(os.path.join(self.tmp, d)) for d in index_dirs)
                / self.input_bytes(input_names)
            ),
        }
        # printed, not bounded: the JVM's adaptive heap sizing moves this
        # peak by 15-30% between runs of the same code
        self.info["peak_rss_mb"] = f"{self.rss.peak / 2**20:.0f}"
        self.info["query_samples"] = str(len(query_lat_s))
        t = tail(query_lat_s)
        if t:
            self.info[f"query_p{t[0]}_ms"] = f"{t[1] * 1e3:.1f}"

    def oracle_analysis(self, names):
        terms = query_terms(
            [key for st in self.answers.values() for key in st])
        parts = [p for n in names for p in self.parts[n]]
        return inputs.analyze_parts(parts, terms, self.cores)

    def rows_of(self, names) -> list[int]:
        return [i for n in names for p in self.parts[n]
                for i in range(p.start, p.stop)]


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def bulk_build(b: Bench) -> None:
    """Set-up: one full build, the JVM's first.  Timed, a fixed amount of
    work sized to about the window: BUILDS full builds of the corpus
    (throughput is docs over the fastest); then the newest index is opened,
    warmed and sent QUERIES distinct texts, none of which it has seen, so
    the handle's plan cache is bypassed and the workers' per-term
    contribution cache holds only the terms that warm() or earlier texts
    touched: ``query_p50_ms``.  The first REPEATS texts are then sent
    again, and their p50 is printed.  WARMUP_QUERIES other distinct texts,
    not counted, go first."""
    b.write_inputs({"corpus": (0, b.n, inputs.PARTS)})
    log = inputs.distinct_log(b.seed, 2, WARMUP_QUERIES + QUERIES, b.n)
    warmup, texts = log[:WARMUP_QUERIES], log[WARMUP_QUERIES:]
    with b.rss:
        t0 = time.perf_counter()
        with b.span("setup", "bench"):
            b.start_session()
            b.build(b.engine("index0"), "corpus")
        b.setup_s = time.perf_counter() - t0
        b.builds.clear()

        with b.span("timed", "bench"):
            for n in range(1, BUILDS + 1):
                shutil.rmtree(os.path.join(b.tmp, f"index{n - 1}"))
                eng = b.engine(f"index{n}")
                b.build(eng, "corpus")
            b.open_warm(eng)
            for text, k in warmup:
                b.query(eng, text, k, "corpus")
            b.queries.clear()
            for text, k in texts + texts[:REPEATS]:
                b.query(eng, text, k, "corpus")
    b.last_engine, b.final_state = eng, "corpus"
    b.state_rows = {"corpus": ["corpus"]}
    walls = [w for w, _ in b.builds]
    b.finish_metrics(b.n / min(walls),
                     [q.latency_s for q in b.queries if q.first],
                     [os.path.basename(eng.index_dir)], ["corpus"])
    b.info["build_walls_s"] = " ".join(f"{w:.2f}" for w in walls)
    b.info["repeat_query_p50_ms"] = "%.1f" % (1e3 * statistics.median(
        [q.latency_s for q in b.queries if not q.first]))


def serve(b: Bench) -> None:
    """Set-up: build and warm().  Phase A (first half of the window): one
    client in a closed loop over a skewed log where most requests repeat an
    earlier text.  Phase B (second half): nproc clients replay the log
    through ``engine.serving()``.  Warm-up texts are not in the log."""
    b.write_inputs({"corpus": (0, b.n, inputs.PARTS)})
    log, warmup = inputs.serve_log(b.seed, 4000, b.n,
                                   WARMUP_QUERIES + b.cores)
    with b.rss:
        t0 = time.perf_counter()
        with b.span("setup", "bench"):
            b.start_session()
            eng = b.engine("index")
            b.build(eng, "corpus")
            b.open_warm(eng)
        b.setup_s = time.perf_counter() - t0

        with b.span("warmup", "bench"):  # untimed: plan and kernel paths
            for text, k in warmup[:WARMUP_QUERIES]:
                b.query(eng, text, k, "corpus")
            b.serve_burst(eng, warmup[WARMUP_QUERIES:], None, "corpus")
        b.queries.clear()
        with b.span("timed", "bench"):
            deadline = time.perf_counter() + b.seconds / 2
            issued = 0
            while time.perf_counter() < deadline:
                b.query(eng, *log[issued], "corpus")
                issued += 1
            b.served = b.serve_burst(eng, log, time.perf_counter()
                                     + b.seconds / 2, "phase_b")
    b.last_engine, b.final_state = eng, "corpus"
    b.state_rows = {"corpus": ["corpus"], "phase_b": ["corpus"]}
    s = b.served
    b.finish_metrics(len(s.lat_s) / s.wall_s,
                     [q.latency_s for q in b.queries], ["index"], ["corpus"])
    b.info["phase_a_repeat_share"] = f"{inputs.repeat_share(log[:issued]):.3f}"
    b.info["serve_qps"] = f"{len(s.lat_s) / s.wall_s:.2f}"
    b.info["loaded_p50_ms"] = f"{statistics.median(s.lat_s) * 1e3:.1f}"
    t = tail(s.lat_s)
    if t:
        b.info[f"loaded_p{t[0]}_ms"] = f"{t[1] * 1e3:.1f}"
    b.info["loaded_samples"] = str(len(s.lat_s))
    b.info["mean_batch_size"] = f"{s.queries / max(1, s.batches):.2f}"


WORKLOADS = {"bulk_build": bulk_build, "serve": serve}
