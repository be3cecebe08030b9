"""Spans and Spark counters recorded around calls into the program.

A span always measures wall time. With tracing on it also records its
parent, runs its Spark actions under a job group of its own and, on exit,
reads that group's counters: jobs and stages from ``statusTracker()``,
and shuffle-write bytes, spill bytes and task skew from Spark's app
status store (which is kept with ``spark.ui.enabled=false``). Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        """Time the body; ``rec["s"]`` holds its wall seconds afterwards.
        With tracing on and ``counters``, the body's Spark jobs run under
        their own job group and ``rec`` gains the group's counters."""
        rec = {"name": name, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
            if counters:
                group = f"perfbench-{rec['id']}"
                self.sc.setJobGroup(group, name)
        cpu0 = cpu_times()
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["s"] = end - start
            rec["steal_pct"] = steal_pct(cpu0, cpu_times())
            if self.enabled:
                rec["start"], rec["end"] = start - self._t0, end - self._t0
                self._stack.pop()
                if counters:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    rec.update(self._group_counters(group))

    def _group_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status listener runs on its own thread: let it catch up
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        shuffle = spill = 0
        window_stage, busiest = None, -1
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, no_quantiles
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                # the window chain runs in the busiest stage that reads a
                # shuffle
                if sd.shuffleReadBytes() > 0 and sd.executorRunTime() > busiest:
                    window_stage, busiest = (sid, sd.attemptId()), sd.executorRunTime()
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
            "task_skew": self._task_skew(store, window_stage),
        }

    @staticmethod
    def _task_skew(store, stage) -> float:
        """max / median task duration of one stage attempt (1.0 if none)."""
        if stage is None:
            return 1.0
        tasks = store.taskList(stage[0], stage[1], 100_000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med > 0 else 1.0
