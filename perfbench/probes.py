"""Counters read from outside the engine: the two processes' /proc
entries, host CPU steal, and the Spark driver JVM's own bookkeeping
(status tracker, status store, codegen metrics, JIT and GC beans).

Nothing here changes what Spark runs; every read is a query of state
Spark keeps anyway.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process (/proc/<pid>/stat)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cpu() -> tuple[float, float]:
    """(steal seconds, total seconds) summed over all vCPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so the total stops at steal
    return vals[7] / _TICK, sum(vals[:8]) / _TICK


class Jvm:
    """Handles on the driver JVM of one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jvm = spark._jvm
        self.sc = spark._jsc.sc()
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        mf = self.jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics

    def jit_ms(self) -> float:
        return float(self._jit.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._gcs))

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished op's jobs and stages."""
        self.sc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[dict]:
        """Jobs, stages and task metrics of one job group, from the
        status tracker and the status store (drain first)."""
        tracker = self.spark.sparkContext.statusTracker()
        store = self.sc.statusStore()
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            info = tracker.getJobInfo(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append(
                {
                    "id": int(jid),
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "stages": list(info.stageIds) if info else [],
                }
            )
        return jobs

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Summed metrics of the stages that ran (skipped stages have no
        attempt in the store and are not counted)."""
        store = self.sc.statusStore()
        t = {"stages": 0, "tasks": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "task_cpu_ms": 0.0}
        for sid in sorted(set(stage_ids)):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: never attempted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            t["stages"] += 1
            t["tasks"] += int(sd.numCompleteTasks())
            t["input_bytes"] += int(sd.inputBytes())
            t["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            t["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            t["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            t["task_cpu_ms"] += sd.executorCpuTime() / 1e6
        return t


def stop(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
            proc.kill()
            proc.wait()
