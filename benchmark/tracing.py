"""Spans, Spark job-group labels and process counters for the benchmark.

Everything here wraps calls from the outside: the engine package itself
carries no tracing. A span sets the Spark job-group label before the call
into a layer, so every Spark job the call starts is attributed to that
label. A nested span restores the enclosing label when its call returns.
A top-level span keeps its label on until the next top-level span starts
or the pass ends (``close``): the caller's actions on the lazy frame a
layer returns (a job's ``.collect()`` or ``.write`` right after the call)
are that layer's work, and the span's ``end`` covers them too. After each
span the tracer reads the finished jobs' stage metrics from the live
status store (the same numbers the Spark UI shows, available with the UI
off), which also keeps it ahead of the store's job-retention cap. Each
stage counts once, for the first job that ran it: with AQE a shuffle map
stage runs in its own job and is listed again by the job that consumes
it, and a reused shuffle is listed (as skipped) by every later job.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, fields

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class StageTotals:
    """Summed task metrics of the stages of a set of Spark jobs."""

    jobs: int = 0
    run_ms: int = 0  # executor run time
    cpu_ns: int = 0  # executor (JVM) CPU time
    gc_ms: int = 0
    input_records: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def layer_of(label: str) -> str:
    return label.split(".", 1)[0]


class Tracer:
    """Spans plus per-label Spark stage totals. With ``enabled=False`` a
    span is a no-op, so the measured runs pay nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[Span] = []
        self.labels: dict[str | None, StageTotals] = defaultdict(StageTotals)
        self.returns: dict[str, object] = {}  # last value each wrapped call returned
        self._stack: list[str] = []
        self._open: Span | None = None  # top-level span whose label is still on
        self._last_job = self._max_job_id()
        self._counted: set[int] = set()  # stage ids already folded into a label
        # seconds spent in the tracer's own bookkeeping (labels, harvests)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._close_open(t0)
        self._stack.append(name)
        self._sc.setLocalProperty("spark.jobGroup.id", name)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._open = Span(name, start, end, None)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", parent)
                self.spans.append(Span(name, start, end, parent))
            self.harvest()
            self.overhead_s += time.perf_counter() - end

    def close(self) -> None:
        """End the open top-level span now and clear the label."""
        if self.enabled:
            t0 = time.perf_counter()
            self._close_open(t0)
            self.harvest()
            self.overhead_s += time.perf_counter() - t0

    def _close_open(self, now: float) -> None:
        if self._open is not None:
            self._open.end = now
            self.spans.append(self._open)
            self._open = None
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def wrapping(self, targets: dict[str, tuple[object, str]]):
        """Within the block, each ``module.attr`` of ``targets`` (label ->
        (module, attr)) runs in a span of its label, and its return value
        is kept in ``returns[label]``. Callers that look the function up
        on the module at call time, as the ``jobs/`` entrypoints do, get
        the wrapped one. Untraced, nothing is replaced."""
        if not self.enabled:
            yield
            return
        with ExitStack() as stack:
            for label, (module, attr) in targets.items():
                orig = getattr(module, attr)
                stack.callback(setattr, module, attr, orig)
                setattr(module, attr, self._wrap(label, orig))
            yield

    def _wrap(self, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                self.returns[label] = out = fn(*args, **kwargs)
            return out

        return traced

    def harvest(self) -> None:
        """Fold every job finished since the last harvest into its label."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        done = []
        for i in range(jobs.size()):  # newest first
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            done.append(job)
        for job in reversed(done):  # oldest first: a stage counts for the first job that ran it
            group = job.jobGroup()
            totals = self.labels[group.get() if group.isDefined() else None]
            totals.jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._counted:
                    continue
                stage = _stage_totals(store, sid)
                if stage is not None:
                    self._counted.add(sid)
                    totals.add(stage)
        if done:
            self._last_job = done[0].jobId()

    def _max_job_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def layer(self, layer: str) -> StageTotals:
        out = StageTotals()
        for label, t in self.labels.items():
            if label is not None and layer_of(label) == layer:
                out.add(t)
        return out

    def span_seconds(self, prefix: str) -> float:
        """Wall time of the outermost spans whose name starts with ``prefix``."""
        return sum(
            s.seconds
            for s in self.spans
            if s.name.startswith(prefix)
            and not (s.parent and s.parent.startswith(prefix))
        )

    def unlabeled_run_share(self) -> float:
        total = sum(t.run_ms for t in self.labels.values())
        return self.labels[None].run_ms / total if total else 0.0

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def _stage_totals(store, stage_id: int) -> StageTotals | None:
    """Task metrics of the stage's last attempt; None for a stage that was
    skipped (its output came from an earlier job's shuffle) or that the
    store no longer holds."""
    try:
        s = store.lastStageAttempt(stage_id)
    except Exception:  # py4j error: the store holds no attempt of the stage
        return None
    if s.status().toString() == "SKIPPED":
        return None
    return StageTotals(
        jobs=0,
        run_ms=s.executorRunTime(),
        cpu_ns=s.executorCpuTime(),
        gc_ms=s.jvmGcTime(),
        input_records=s.inputRecords(),
        input_bytes=s.inputBytes(),
        output_bytes=s.outputBytes(),
        shuffle_read_bytes=s.shuffleReadBytes(),
        shuffle_write_bytes=s.shuffleWriteBytes(),
        spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` plus those of its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    v = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in v[11:15]) / _CLK_TCK


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it."""
    total = 0.0
    for p in process_tree(root):
        try:
            total += _cpu_s(p)
        except OSError:  # ended between listing and reading
            pass
    return total


class PeakRss:
    """Samples the resident memory of a process tree every ``period``
    seconds on a thread; ``peak`` is the largest sum seen."""

    def __init__(self, root: int, period: float = 0.1):
        self.root, self.period, self.peak = root, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = 0
            for p in process_tree(self.root):
                try:
                    total += _rss_bytes(p)
                except OSError:
                    pass
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
