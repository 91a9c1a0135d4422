"""Per-layer spans and counters for a traced pass.

Spans are taken from outside the package, around the harness's calls into
it: construction (``QuerySpec.fn`` or a MapReduce job's build), action
(the Arrow fetch or the sink write) and release. Each operation runs in
its own Spark job group, the span identifier; after the action the
per-stage sums of the group's jobs are read from Spark's live status
store (``lastStageAttempt``, SKIPPED stages left out). Everything is kept
in memory and summed per pass in ``end_pass``.
"""

from __future__ import annotations

import os
from collections import defaultdict

from checks import dir_bytes

MB = 1024 * 1024
# operation name -> per-layer wall-time metric of the MapReduce workload
OP_SPANS = {
    "mr_linecount": "mapreduce.linecount_s",
    "df_wordcount": "mapreduce.df_wordcount_s",
    "linefile_read": "linefile.read_s",
}


def host_loadavg() -> float:
    return os.getloadavg()[0]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_hwm_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    """Collects one pass's spans; ``end_pass`` returns its metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.m: dict[str, float] = defaultdict(float)
        self.group = ""
        self.n = 0

    def begin_pass(self) -> None:
        self.ticks = _cpu_ticks()

    def begin(self, op) -> None:
        self.n += 1
        self.group = f"perfbench-{id(self)}-{self.n}-{op.name}"
        self.sc.setJobGroup(self.group, op.name)

    def _jobs(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def constructed(self, op) -> None:
        self.m["spark.construct_jobs"] += len(self._jobs())

    def acted(self, op, construct_s: float, action_s: float) -> None:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._jobs()
        self.sc._jsc.clearJobGroup()
        stages: set[int] = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        s = defaultdict(float)
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # stage pruned from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            s["stages"] += 1
            s["tasks"] += st.numTasks()
            s["run"] += st.executorRunTime() / 1e3
            s["cpu"] += st.executorCpuTime() / 1e9
            s["gc"] += st.jvmGcTime() / 1e3
            s["input"] += st.inputBytes() / MB
            s["shuffle"] += st.shuffleWriteBytes() / MB
            s["spill"] += st.diskBytesSpilled() / MB
        cache = sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / MB
        m = self.m
        for k, v in (("jobs", len(jobs)), ("stages", s["stages"]), ("tasks", s["tasks"]),
                     ("task_run_s", s["run"]), ("task_cpu_s", s["cpu"]), ("gc_s", s["gc"]),
                     ("input_mb", s["input"]), ("shuffle_write_mb", s["shuffle"]),
                     ("spill_mb", s["spill"])):
            m[f"spark.{k}"] += v
        m["cache_peak_mb"] = max(m["cache_peak_mb"], cache)
        if op.name in OP_SPANS:
            m[OP_SPANS[op.name]] += construct_s + action_s
        else:
            layer = op.layer
            m[f"{layer}.construct_s"] += construct_s
            m[f"{layer}.action_s"] += action_s
            m[f"{layer}.jobs"] += len(jobs)
            m[f"{layer}.task_cpu_s"] += s["cpu"]
            m[f"{layer}.shuffle_write_mb"] += s["shuffle"]
            m[f"{layer}.cache_mb"] = max(m[f"{layer}.cache_mb"], cache)
        if op.writes:
            m["sinks.written_mb"] += dir_bytes(op.writes) / MB
        if op.reads:
            m["linefile.read_mb"] += dir_bytes(op.reads) / MB

    def released(self, op, leaked: int) -> None:
        self.m["spark.leaked_rdds"] += leaked

    def end_pass(self) -> dict[str, float]:
        steal, total = _cpu_ticks()
        d_total = total - self.ticks[1]
        self.m["host.steal_pct"] = 100.0 * (steal - self.ticks[0]) / d_total if d_total else 0.0
        return dict(self.m)
