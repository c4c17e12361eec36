"""Read Spark's own status store from the benchmark process.

Nothing here runs inside the engine: the benchmark tags the Spark jobs of
each traced step with a job group, waits for the listener bus to drain,
and reads the jobs and stages of that group back from the application
status store (the data behind the Spark UI).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Stage:
    stage_id: int
    status: str
    tasks: int
    failed_tasks: int
    start: float | None  # epoch seconds; None for skipped stages
    end: float | None
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    max_task_run_s: float

    @property
    def ran(self) -> bool:
        return self.status in ("COMPLETE", "FAILED")


@dataclass(frozen=True)
class Job:
    job_id: int
    start: float | None
    end: float | None
    stage_ids: tuple[int, ...]


def _epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads jobs and stages per job group from a live SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_task_status = gw.jvm.java.util.ArrayList()

    def tag(self, group: str) -> None:
        """Tag every Spark job started from now on with ``group``."""
        self._sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[Job]:
        store = self._jsc.statusStore()
        out = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            j = store.job(int(jid))
            ids = j.stageIds()
            out.append(Job(
                job_id=int(jid),
                start=_epoch(j.submissionTime()),
                end=_epoch(j.completionTime()),
                stage_ids=tuple(int(ids.apply(i)) for i in range(ids.length())),
            ))
        return out

    def stages(self, stage_ids: set[int]) -> list[Stage]:
        """Every attempt of the given stages, from ``stageList`` called
        with all of its Scala default arguments."""
        store = self._jsc.statusStore()
        seq = store.stageList(
            None, False, False, self._no_quantiles, self._no_task_status
        )
        out = []
        for i in range(seq.length()):
            s = seq.apply(i)
            sid = int(s.stageId())
            if sid not in stage_ids:
                continue
            status = s.status().toString()
            max_task = 0.0
            if status in ("COMPLETE", "FAILED") and s.numTasks() > 1:
                tasks = store.taskList(sid, s.attemptId(), 1 << 30)
                for k in range(tasks.length()):
                    m = tasks.apply(k).taskMetrics()
                    if m.isDefined():
                        max_task = max(max_task, m.get().executorRunTime() / 1e3)
            out.append(Stage(
                stage_id=sid,
                status=status,
                tasks=int(s.numCompleteTasks()) + int(s.numFailedTasks()),
                failed_tasks=int(s.numFailedTasks()),
                start=_epoch(s.submissionTime()),
                end=_epoch(s.completionTime()),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_bytes=int(s.inputBytes()),
                input_rows=int(s.inputRecords()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                shuffle_read_bytes=int(s.shuffleReadBytes()),
                spill_bytes=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                max_task_run_s=max_task,
            ))
        return out

    def persisted_rdds(self) -> int:
        return len(self._sc._jsc.getPersistentRDDs())

    def unpersist_all(self) -> None:
        """Drop the Dataset cache and every RDD still persisted (query
        ``persist`` calls and ``localCheckpoint`` blocks alike)."""
        for r in list(self._sc._jsc.getPersistentRDDs().values()):
            r.unpersist(True)

    def jvm_pid(self) -> int:
        return int(self._sc._gateway.jvm.java.lang.ProcessHandle.current().pid())


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
