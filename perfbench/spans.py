"""Spans and per-layer counters for the traced benchmark run.

Spans are recorded by the benchmark around each call it makes into a layer
(name, start, end, parent, op id), held in memory and written once when the
run ends. Counters are read from Spark's own bookkeeping after each phase,
never from inside the program:

* jobs / stages / tasks from ``SparkContext.statusTracker`` job groups;
* stage timing, task durations, shuffle and spill bytes from the
  application status store (``SparkContext.statusStore``);
* operator metrics (the Python-boundary byte counts) from the SQL status
  store (``SharedState.statusStore``);
* GC time and heap-pool peaks from the driver JVM's management beans.

Untraced runs, and the untraced passes of a traced run, call ``span()`` on
``NO_TRACE``, whose spans cost one ``nullcontext``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``"1260.1 KiB"`` for one task,
    or ``"total (min, med, max ...)\\n3.2 MiB (...)"`` for several."""
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class _NoTrace:
    enabled = False

    def span(self, name: str, op: int | None = None):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


class Tracer:
    """In-memory span log plus named samples for the per-layer metrics."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0  # time spent reading counters, not in layers
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._groups = itertools.count()
        mx = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mx.getGarbageCollectorMXBeans())
        # Eden fills to its full size before every young GC, so its peak says
        # nothing about the program; survivor + old generation hold what the
        # program keeps.
        self._heap_pools = [
            p
            for p in mx.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory" and "Eden" not in p.getName()
        ]

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": op}
            )
            self.samples[name + "_s"].append(end - start)

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))

    # -- Spark counters ------------------------------------------------------
    @contextlib.contextmanager
    def job_group(self, label: str):
        """Run the block under a fresh job group and yield its id, which is
        also the description of the SQL executions it runs."""
        group = f"perfbench-{next(self._groups)}-{label}"
        self.sc.setJobGroup(group, group)
        try:
            yield group
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, shuffle/spill bytes and the critical stage of
        everything a job group ran (skipped stages excluded)."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = []
        listing = 0
        for jid in jobs:
            desc = self.status.job(jid).description()
            if desc.isDefined() and desc.get().startswith("Listing leaf files"):
                listing += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = self.status.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted past spark.ui.retainedStages
                    continue
                if str(st.status()) == "COMPLETE":
                    stages.append(st)
        out = {
            "jobs": len(jobs),
            "listing_jobs": listing,
            "stages": len(stages),
            "tasks": sum(s.numTasks() for s in stages),
            "single_task_stages": sum(1 for s in stages if s.numTasks() == 1),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "critical_stage_s": 0.0,
            "task_skew": 1.0,
        }
        best = None
        for s in stages:
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                dur = (done.get().getTime() - sub.get().getTime()) / 1000.0
                if best is None or dur > best[0]:
                    best = (dur, s)
        if best is not None:
            dur, s = best
            out["critical_stage_s"] = dur
            tasks = self.status.taskList(s.stageId(), s.attemptId(), s.numTasks())
            times = [
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            med = statistics.median(times) if times else 0
            out["task_skew"] = max(times) / med if med > 0 else 1.0
        self.overhead_s += time.perf_counter() - t0
        return out

    def python_bytes(self, group_label: str) -> tuple[float, float]:
        """(sent, received) bytes of every MapInArrow/Python node in the SQL
        executions whose description is ``group_label``."""
        t0 = time.perf_counter()
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        sent = received = 0.0
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.description() != group_label:
                continue
            values = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "data sent to Python workers" and v.isDefined():
                        sent += parse_size(v.get())
                    elif m.name() == "data returned from Python workers" and v.isDefined():
                        received += parse_size(v.get())
        self.overhead_s += time.perf_counter() - t0
        return sent, received

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / (1 << 20)

    # -- output --------------------------------------------------------------
    def median(self, name: str) -> float:
        vals = self.samples.get(name)
        return statistics.median(vals) if vals else 0.0

    def total(self, name: str) -> float:
        return float(sum(self.samples.get(name, ())))

    def write(self, path: str) -> None:
        """Spans plus every per-op sample behind the per-layer metrics."""
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "samples": self.samples}, fh)
