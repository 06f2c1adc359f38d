"""Spans around layer calls, and the Spark counters each call consumed.

A span is ``(name, start, end, parent, run)``; spans of one workload
iteration share ``run``.  Spans are kept in memory and written out as
JSON lines when the benchmark ends.

With tracing on, every top-level span that runs Spark work gets its
own job group; right after the call the stages of that group are read
from the driver's status store (``SparkContext.statusStore``, which
works with the UI disabled).  Stages are read per call because the
store keeps only the last ``spark.ui.retainedStages`` (1000) stages.
Before each top-level layer call, outside its span, the Python and JVM
heaps are collected.  With tracing off a span is otherwise two clock
reads; with it on, the time spent reading counters is kept per run as
the tracing overhead.
"""

from __future__ import annotations

import gc
import json
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False  # toggled per iteration by the runner
        self.run = "setup"
        self.spans: list[dict] = []
        self.read_s: dict[str, float] = {}  # counter-reading time per run
        self._stack: list[dict] = []
        self._json = None

    @contextmanager
    def span(self, name: str, counters: bool = True):
        """Time ``name``; yields a dict the caller fills with counts.
        ``counters=False`` marks a span that only groups other spans."""
        rec = {
            "name": name,
            "run": self.run,
            "id": len(self.spans) + len(self._stack),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "traced": self.enabled,
            "counts": {},
        }
        # a span inside a counted span shares its job group
        group = f"perfbench-{rec['id']}-{name}" if (
            self.enabled and counters
            and not any(s.get("group") for s in self._stack)) else None
        rec["group"] = group
        sc = self.spark.sparkContext
        if counters and not any(s.get("counted") for s in self._stack):
            # a layer call starts on a collected heap, outside its span:
            # garbage left by the previous call is not charged to it
            rec["counted"] = True
            gc.collect()
            sc._jvm.System.gc()
        if group:
            sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if group:
                sc._jsc.clearJobGroup()
        if group:
            rec["spark"] = self._stage_counters(group, rec["start"], rec["end"])
            self.read_s[self.run] = (self.read_s.get(self.run, 0.0)
                                     + time.time() - rec["end"])

    def _stage_counters(self, group: str, t0: float, t1: float) -> dict:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        if self._json is None:  # Jackson, as the status REST API uses
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = jvm.com.fasterxml.jackson.module.scala
            self._json.registerModule(
                getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        store = sc._jsc.sc().statusStore()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        busy = []
        for sid in sorted(stage_ids):
            for sd in json.loads(self._json.writeValueAsString(store.stageData(
                    sid, False, no_status, False, no_quantiles))):
                if sd["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd["numCompleteTasks"]
                out["executor_run_s"] += sd["executorRunTime"] / 1e3
                out["executor_cpu_s"] += sd["executorCpuTime"] / 1e9
                out["gc_s"] += sd["jvmGcTime"] / 1e3
                out["shuffle_write_mb"] += sd["shuffleWriteBytes"] / MB
                out["spill_mb"] += (sd["memoryBytesSpilled"]
                                    + sd["diskBytesSpilled"]) / MB
                if sd.get("submissionTime") and sd.get("completionTime"):
                    busy.append((max(t0, sd["submissionTime"] / 1e3),
                                 min(t1, sd["completionTime"] / 1e3)))
        # planning and scheduling time: no stage of the call running
        out["driver_s"] = max(0.0, t1 - t0 - _union_length(busy))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
