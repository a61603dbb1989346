"""Per-job-group execution metrics from Spark's status store.

Read through py4j from the driver JVM's ``AppStatusStore`` (populated
whether or not the web UI runs). Only the traced run calls this.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, fields

from pyspark import SparkContext


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0   # max / median task run time, worst stage

    def add(self, other: "ExecStats") -> None:
        for f in fields(self):
            if f.name == "task_skew":
                self.task_skew = max(self.task_skew, other.task_skew)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    def __init__(self, sc: SparkContext) -> None:
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects jobs that already returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def group_stats(self, group: str) -> ExecStats:
        """Totals over every job tagged with ``group``."""
        self.settle()
        return self.job_stats(self.job_ids(group))

    def job_stats(self, job_ids: list[int]) -> ExecStats:
        out = ExecStats(jobs=len(job_ids))
        worst_run, worst_stage = -1, None
        for jid in job_ids:
            for sid in _seq(self._store.job(jid).stageIds()):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_s += st.executorRunTime() / 1e3
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
                out.input_rows += st.inputRecords()
                out.input_bytes += st.inputBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.executorRunTime() > worst_run:
                    worst_run, worst_stage = st.executorRunTime(), st
        if worst_stage is not None:
            out.task_skew = self._skew(worst_stage)
        return out

    def _skew(self, st) -> float:
        runs = []
        for t in _seq(self._store.taskList(st.stageId(), st.attemptId(),
                                           st.numTasks() + 1)):
            m = t.taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0
