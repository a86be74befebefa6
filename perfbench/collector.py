"""Per-call Spark counters read from the driver's status store.

Every call the benchmark wants to measure runs inside its own Spark job
group; afterwards the group's jobs, stages, task time and shuffle/spill
bytes are read back from ``sc._jsc.sc().statusStore()``. This works with
``spark.ui.enabled=false``. Three rules keep the counts right:

* a group id is never reused, so a repeated call cannot pick up the jobs
  of an earlier one;
* only ``COMPLETE`` stages are counted (each stage id once across the
  group's jobs), with ``numCompleteTasks``: a job also lists the stages
  it skipped because their shuffle output already existed;
* the counters are read right after the call, before the status store's
  default retention (1000 jobs / 1000 stages) can evict them.

The listener bus is asynchronous, so :meth:`Collector.read` first waits
until it has drained; otherwise the last stage of a call may be missing.
"""

from __future__ import annotations

import itertools
import threading
from contextlib import contextmanager
from dataclasses import dataclass, fields

MB = 1024 * 1024
# one sequence per process: two collectors on one session must not hand
# out the same group id either
_GROUP_IDS = itertools.count()
_LOCK = threading.Lock()


@dataclass
class Counters:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class Collector:
    """Runs calls in unique job groups and reads their counters."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jvm_sc = self.sc._jsc.sc()

    @staticmethod
    def new_group(name: str) -> str:
        with _LOCK:
            return f"{name}#{next(_GROUP_IDS)}"

    @contextmanager
    def group(self, name: str):
        """Run the body in a fresh job group of this thread; yields its id."""
        gid = self.new_group(name)
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> Counters:
        """Counters of every job that ran in group ``gid`` (not wall_s)."""
        self._jvm_sc.listenerBus().waitUntilEmpty()
        store = self._jvm_sc.statusStore()
        c = Counters()
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            c.jobs += 1
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c.stages += 1
                c.tasks += st.numCompleteTasks()
                c.task_run_s += st.executorRunTime() / 1e3
                c.task_cpu_s += st.executorCpuTime() / 1e9
                c.gc_s += st.jvmGcTime() / 1e3
                c.shuffle_read_mb += st.shuffleReadBytes() / MB
                c.shuffle_write_mb += st.shuffleWriteBytes() / MB
                c.spill_mb += st.diskBytesSpilled() / MB
        return c
