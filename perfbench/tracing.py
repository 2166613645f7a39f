"""Spans, Spark job accounting and process-tree memory sampling.

Spans are recorded from the benchmark's own code around its calls into
each engine module. A span that asks for job accounting runs its Spark
actions under a job group of its own, and on exit reads the jobs, stages
and tasks of that group from Spark's public ``statusTracker()``. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records spans (name, start, end, parent, op id, jobs, stages,
    tasks) while ``active``; does nothing otherwise, so the same
    workload code serves traced and untraced runs."""

    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        # spans nest per thread (set-up runs some builds concurrently);
        # Spark job groups are per thread as well
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = False):
        """Yields the span's record (a throwaway dict when inactive), to
        which the caller may add counts of its own."""
        if not self.active:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "op": op}
            self.spans.append(rec)
        sc = self.spark.sparkContext if jobs else None
        group = f"perfbench-span-{sid}"
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            if sc is not None:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, name)
                rec.update(job_counts(sc, group))

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under ``group`` (stages that
    were skipped because an earlier job already computed their output
    are not counted)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks > 0 and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def wrap_module_function(tracer: Tracer, module, attr: str, span_name: str, modules=()) -> callable:
    """Time every call of ``module.attr`` as a ``span_name`` span,
    including calls through other ``modules`` that imported the
    function by name. Returns a function that undoes the wrapping."""
    orig = getattr(module, attr)

    def wrapped(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    patched = [m for m in (module, *modules) if getattr(m, attr, None) is orig]
    for m in patched:
        setattr(m, attr, wrapped)

    def undo():
        for m in patched:
            setattr(m, attr, orig)

    return undo


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the Python
    driver, the Spark JVM and its Python worker daemons), as the sum of
    their proportional set sizes: a page shared by n processes counts 1/n
    in each, so forked workers and a JVM caught between fork and exec are
    not counted twice."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's memory (:func:`tree_memory_bytes`)
    every ``interval`` seconds on a daemon thread and keeps the peak
    since the last :meth:`reset`."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_memory_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_memory_bytes(os.getpid())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
