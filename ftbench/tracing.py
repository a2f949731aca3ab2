"""Spans around the public calls into each layer, Spark job-group counts,
and the process-tree RSS sampler.

A :class:`Tracer` built with ``enabled=False`` records nothing and calls
nothing in Spark, so untraced runs pay one attribute check per call site.
Traced runs hold spans in memory and write them out once, at exit.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: str | None
    thread: str
    group: str | None  # Spark job group the span's own jobs ran under
    jobs: int | None = None
    tasks: int | None = None
    failed_tasks: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records a span per ``with tracer.span(...)``.

    Spans opened on the main thread set a Spark job group, so the jobs each
    call submits are counted per span.  Jobs that run on the serving
    layer's own threads carry no group; :meth:`ungrouped_jobs` counts them
    for a whole phase instead.  Job and task counts are resolved after the
    run (:meth:`resolve_counts`), once Spark's listener has seen every
    task end.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self.sc = None

    def attach(self, sc) -> None:
        self.sc = sc

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None,
             parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        on_main = threading.current_thread() is self._main
        sid = next(self._ids)
        group = f"ftbench-{sid}" if on_main and self.sc is not None else None
        sp = Span(sid, name, layer, 0.0, 0.0,
                  parent.id if parent else None, request,
                  threading.current_thread().name, group, attrs=attrs)
        if group:
            self._set_group(group)
        stack.append(sp)
        sp.start = time.perf_counter()
        with self._lock:
            self.cost_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if group:
                outer = next((s.group for s in reversed(stack) if s.group),
                             None)
                self._set_group(outer)
            with self._lock:
                self.spans.append(sp)
                self.cost_s += time.perf_counter() - sp.end

    def _job_counts(self, job_ids) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        tasks = failed = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for stage_id in (info.stageIds if info else ()):
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return len(job_ids), tasks, failed

    def ungrouped_jobs(self) -> set[int]:
        """Ids of jobs submitted without a job group so far."""
        if not self.enabled:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def count_jobs(self, sp: Span, job_ids) -> None:
        """Attach counts for jobs submitted outside any group (serving)."""
        if self.enabled:
            sp.attrs["ungrouped_job_ids"] = sorted(job_ids)

    def resolve_counts(self) -> None:
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            ids = list(sp.attrs.get("ungrouped_job_ids", ()))
            if sp.group:
                ids += tracker.getJobIdsForGroup(sp.group)
            if sp.group or ids:
                sp.jobs, sp.tasks, sp.failed_tasks = self._job_counts(ids)

    # -- reports -----------------------------------------------------------

    def total(self, sp: Span, what: str) -> int:
        """``jobs``/``tasks``/``failed_tasks`` of a span and its subtree."""
        kids = [s for s in self.spans if s.parent == sp.id]
        return (getattr(sp, what) or 0) + sum(self.total(k, what)
                                              for k in kids)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span durations minus the part of each span's interval
        that its child spans cover (children of one span may overlap, as
        concurrent serving requests do, so their union is taken)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = asdict(s)
                row["start"] -= t0
                row["end"] -= t0
                f.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------------------
# Peak RSS of the benchmark's process tree
# ---------------------------------------------------------------------------


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid) for every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * _PAGE
    return children, rss


def descendants(root: int, children=None) -> list[int]:
    if children is None:
        children = _proc_table()[0]
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    children, rss = _proc_table()
    return sum(rss.get(p, 0) for p in [root, *descendants(root, children)])


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on
    one sleeping thread (it issues no requests), plus on demand."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop,
                                        name="ftbench-rss", daemon=True)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
