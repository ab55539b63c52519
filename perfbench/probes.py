"""Measurement plumbing: process-tree CPU/RSS, Spark's status store,
call spans around the program's public functions, and single-thread
kernel timings. Nothing here changes what the program computes."""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process tree --------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # exited between listing and reading
        return None
    # fields after "comm)"; comm may itself hold spaces and parentheses
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU seconds and resident memory of one process and all its
    descendants (the driver JVM and the Python workers it forks).

    CPU counts each live process's own and reaped-children time, so
    workers that exit between two readings are still counted once."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def _members(self) -> list[list[str]]:
        stats, children = {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
                    children.setdefault(int(st[1]), []).append(int(name))
        tree, frontier = [], [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats:
                tree.append(stats[pid])
                frontier.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        return sum(sum(int(x) for x in st[11:15])
                   for st in self._members()) / _TICK

    def rss_bytes(self) -> int:
        return sum(int(st[21]) for st in self._members()) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on one thread while ``active``."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1):
        self.tree = tree
        self.interval = interval_s
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, self.tree.rss_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark status store ------------------------------------------------------

_STAGE_FIELDS = {
    # metric: (StageData getter, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


class SparkCounters:
    """Engine counters read from the live status store
    (``SparkContext.statusStore``), which Spark keeps even with the UI
    off. A stage or job is attributed to a traced call by diffing the ids
    the store holds before and after it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _read(self) -> tuple[list, list]:
        # the store is fed asynchronously by the listener bus: drain it
        # so every job that has returned is visible
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return ([jobs.apply(i) for i in range(jobs.size())],
                [stages.apply(i) for i in range(stages.size())])

    def mark(self) -> tuple[set[int], set[tuple[int, int]]]:
        jobs, stages = self._read()
        return ({j.jobId() for j in jobs},
                {(s.stageId(), s.attemptId()) for s in stages})

    def since(self, mark) -> tuple[dict[str, float], list, list]:
        """Counter totals over jobs and stages that ran after ``mark``,
        plus the new JobData and StageData handles."""
        job_ids, stage_ids = mark
        jobs, stages = self._read()
        new_jobs = [j for j in jobs if j.jobId() not in job_ids]
        new_stages = [s for s in stages
                      if (s.stageId(), s.attemptId()) not in stage_ids
                      and s.status().toString() != "SKIPPED"]
        out = {
            "jobs": len(new_jobs),
            "stages": len(new_stages),
            "tasks": sum(s.numCompleteTasks() for s in new_stages),
            "tasks_failed": sum(s.numFailedTasks() for s in new_stages),
        }
        for name, (getter, scale) in _STAGE_FIELDS.items():
            out[name] = sum(getattr(s, getter)() for s in new_stages) * scale
        return out, new_jobs, new_stages

    def task_durations_s(self, stage) -> list[float]:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 2**31 - 1)
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1e3)
        return out


# -- spans ---------------------------------------------------------------------

class Spans:
    """Named call spans recorded from wrappers the benchmark installs
    around the program's public functions for one traced job. Times are
    epoch seconds so they line up with Spark's job submission times."""

    def __init__(self):
        self.calls: list[tuple[str, float, float, tuple]] = []

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls.append((name, t0, time.time(), args))
        return traced

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.calls if n == name)

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.calls if n == name)

    def first_start(self, name: str) -> float | None:
        starts = [t0 for n, t0, *_ in self.calls if n == name]
        return min(starts) if starts else None


@contextlib.contextmanager
def patched(spans: Spans, targets: list[tuple[object, str, str]]):
    """Route each ``module.attr`` through ``spans`` as span ``name`` for
    the duration of the block."""
    saved = []
    try:
        for module, attr, name in targets:
            orig = getattr(module, attr)
            saved.append((module, attr, orig))
            setattr(module, attr, spans.wrap(name, orig))
        yield spans
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


# -- single-thread kernels -----------------------------------------------------

def per_item_us(items: list, fn, passes: int = 3) -> float:
    """Median over ``passes`` of the mean wall time of ``fn(item)``."""
    if not items:
        return 0.0
    means = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        means.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(means)
