"""Spark's own per-stage counters, summed per job group.

Reads the driver's status store through py4j. ``lastStageAttempt`` works
with the UI disabled; the ``stageData`` accessor changed signature across
Spark versions and is not used.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import SparkContext

_MB = float(1 << 20)


@dataclass
class GroupCounters:
    """Counters summed over every stage the group's jobs ran."""

    jobs: int = 0
    stages: int = 0
    run_s: float = 0.0  # summed task run time ("busy" time)
    cpu_s: float = 0.0  # summed task CPU time on the JVM side
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # memory + disk bytes spilled
    tasks_failed: int = 0
    task_skew: float = 1.0  # max / median task run time in the busiest stage

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_write_mb


def drain_listener_bus(sc: SparkContext, timeout_ms: int = 30_000) -> None:
    """Stage metrics reach the status store through an asynchronous
    listener bus; wait until it has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _task_skew(store, stage_id: int, attempt_id: int) -> float:
    gw = SparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    dist = store.taskSummary(stage_id, attempt_id, quantiles)
    if dist.isEmpty():
        return 1.0
    run = dist.get().executorRunTime()
    median, top = float(run.apply(0)), float(run.apply(1))
    return top / median if median > 0 else 1.0


def group_counters(sc: SparkContext, group: str) -> GroupCounters:
    """Sum the stage counters of every job submitted under ``group``."""
    drain_listener_bus(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = GroupCounters()
    seen: set[int] = set()
    busiest = (-1, None)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            if stage_id in seen:
                continue
            seen.add(stage_id)
            sd = store.lastStageAttempt(stage_id)
            out.stages += 1
            run_ms = sd.executorRunTime()
            out.run_s += run_ms / 1e3
            out.cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_read_mb += sd.shuffleReadBytes() / _MB
            out.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
            out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            out.tasks_failed += sd.numFailedTasks()
            if run_ms > busiest[0]:
                busiest = (run_ms, (stage_id, sd.attemptId()))
    if busiest[1] is not None:
        out.task_skew = _task_skew(store, *busiest[1])
    return out
