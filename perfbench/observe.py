"""Measurement plumbing: process-tree memory, spans, Spark stage metrics.

Nothing here changes what the program does.  Stage metrics come from the
job groups the benchmark sets around its own calls, read through
``statusTracker`` and the private ``statusStore``; when that API errors the
metrics are dropped (``None``) and the run goes on.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        # state and ppid follow the ")" that closes the command name
        state, ppid = stat[stat.rindex(b")") + 2:].split()[:2]
        if state != b"Z":  # a zombie has ended; its parent reaps it
            kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident memory: a page shared by n processes counts
    1/n in each, so the Python worker daemon's forks are not counted
    again for the pages they share with it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def tree_pss_mb() -> float:
    """Resident memory of this process and all its descendants (the JVM
    and the JVM's Python workers), as a sum of PSS."""
    pids = [os.getpid(), *descendants()]
    return sum(_pss_kb(p) for p in pids) / 1024.0


class PeakMemory:
    """Samples :func:`tree_pss_mb` on a thread while active."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


def dir_files(path: str) -> dict[str, int]:
    """relative path → size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], path: str) -> int:
    """Bytes in files under ``path`` that were not in ``before``."""
    return sum(s for f, s in dir_files(path).items() if f not in before)


class Tracer:
    """Spans (name, start, end, parent) and counts, kept in memory."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add_span(self, name: str, seconds: float, parent: int | None,
                 start: float | None = None) -> None:
        """A span measured by the program itself (a JobResult phase)."""
        start = self.spans[parent]["start"] if start is None else start
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "start": start,
                           "end": start + seconds})

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def table(self) -> list[tuple[str, int, float, float]]:
        """(name, depth, total s, self s) in span order.  Self time is the
        span's duration minus its children's (children never overlap)."""
        child_sum: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] = (child_sum.get(s["parent"], 0.0)
                                          + s["end"] - s["start"])
        rows = []
        for s in self.spans:
            depth, p = 0, s["parent"]
            while p is not None:
                depth, p = depth + 1, self.spans[p]["parent"]
            total = s["end"] - s["start"]
            rows.append((s["name"], depth, total,
                         total - child_sum.get(s["id"], 0.0)))
        return rows


@contextmanager
def span(tracer: Tracer | None, name: str, groups: "JobGroups | None" = None):
    """A span, and a Spark job group of the same name, when tracing."""
    if tracer is None:
        yield None
        return
    with tracer.span(name) as rec:
        if groups is None:
            yield rec
        else:
            with groups.group(name):
                yield rec


class JobGroups:
    """Spark job groups around the benchmark's calls, and the stage
    metrics Spark recorded for each group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, name: str) -> dict | None:
        """Totals over the group's stages plus the stage with the most
        executor time; ``None`` when the status API is unavailable."""
        try:
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            jobs = tracker.getJobIdsForGroup(name)
            out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
                   "shuffle_write_b": 0, "spill_b": 0,
                   "top": None}
            top_run = -1
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never attempted
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["shuffle_write_b"] += sd.shuffleWriteBytes()
                    out["spill_b"] += sd.diskBytesSpilled()
                    if sd.executorRunTime() > top_run:
                        top_run = sd.executorRunTime()
                        out["top"] = (sid, sd.attemptId(), sd.numTasks())
            return out
        except Exception:  # private API: drop the metrics, keep the run
            return None

    def task_skew(self, top) -> float | None:
        """max / median task duration of one stage attempt."""
        try:
            sid, attempt, n = top
            it = self.sc._jsc.sc().statusStore().taskList(
                sid, attempt, n).iterator()
            durs = []
            while it.hasNext():
                d = it.next().duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            med = statistics.median(durs)
            return max(durs) / med if med else None
        except Exception:  # private API, or a stage with no timed tasks
            return None

    def storage_mb(self) -> float | None:
        """Block-manager storage (memory + disk) currently held."""
        try:
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        except Exception:  # private API
            return None
