"""Traced runs: spans around calls into the program, one Spark job group per
span, and the stage metrics Spark's status store keeps for each group.

Spans live in memory (name, parent, start, end, attributes) and are written
out once, when the run ends. Stage metrics are read after a span has ended,
so reading them is not part of any span's duration.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# StageData getters summed per group (status-store names -> metric names).
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str = "", group: bool = True):
        """Time a block; with ``group`` its Spark jobs run under a job group
        of their own and the group's stage metrics land on the span."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
        }
        self.spans.append(rec)
        if group:
            rec["job_group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["job_group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                outer = next((s for s in reversed(self._stack) if "job_group" in s), None)
                if outer:
                    self.sc.setJobGroup(outer["job_group"], outer["name"])
                else:
                    self.sc._jsc.clearJobGroup()
                rec["stages"] = self._harvest(rec["job_group"])

    def _harvest(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store now holds every event
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "skipped_stages": 0, "stage_ids": sorted(stage_ids),
               **dict.fromkeys(_STAGE_FIELDS.values(), 0)}
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            out["stages"] += 1
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            for getter, key in _STAGE_FIELDS.items():
                out[key] += int(getattr(st, getter)())
        return out

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def plan_phases_s(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return Catalyst's own phase
    timings (analysis, optimization, planning) from the query tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def cache_state(spark) -> tuple[int, int]:
    """(persistent RDD count, bytes they hold in memory and on disk)."""
    sc = spark.sparkContext
    held = sc._jsc.getPersistentRDDs().size()
    held_bytes = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return held, held_bytes


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
