"""Per-job-group Spark figures from the driver's status store.

The benchmark puts each call into the engine under its own job group
(``SparkContext.setJobGroup``) and afterwards reads the jobs and stages
of that group from ``sc._jsc.sc().statusStore()``. The store is kept by
the driver's listener and works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "jvm_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)

_MB = 1024.0 * 1024.0


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, name: str) -> None:
        """Put every job started from this thread from now on into ``name``."""
        self.sc.setJobGroup(name, name, False)

    def read(self, group: str) -> dict:
        """Totals over the jobs of ``group``, plus ``job_intervals``: the
        (submitted, completed) epoch seconds of each finished job."""
        out = dict.fromkeys(FIELDS, 0.0)
        intervals = []
        seen_stages: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()  # a Scala Seq
            for sid in (ids.apply(i) for i in range(ids.size())):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped: its output was reused
                    continue
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["input_mb"] += st.inputBytes() / _MB
        out["job_intervals"] = intervals
        return out

