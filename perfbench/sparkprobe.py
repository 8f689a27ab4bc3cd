"""Stage metrics of a Spark job group, read from outside the program.

The benchmark runs each public call under its own job group, then asks
the driver's always-on ``AppStatusStore`` (present with
``spark.ui.enabled=false``) for the stages those jobs ran.  Nothing is
hooked inside the library.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

_MB = 1 << 20


@dataclass
class GroupTotals:
    """Sums over the non-skipped stages of one or more job groups."""

    jobs: int = 0
    stages: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    driver_result_kb: float = 0.0
    max_task_s: float = 0.0

    def __iadd__(self, other: "GroupTotals") -> "GroupTotals":
        for f in fields(self):
            mine, theirs = getattr(self, f.name), getattr(other, f.name)
            merged = max(mine, theirs) if f.name == "max_task_s" else mine + theirs
            setattr(self, f.name, merged)
        return self


class StatusProbe:
    """Reads job-group stage metrics, RDD storage and JVM memory of one
    live SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = jsc
        self._tracker = self._sc.statusTracker()
        # A stage that ran for one group can be listed again (skipped) by
        # a later group's job; attribute each stage to one group only.
        self._seen: set[int] = set()
        self.jvm_pid = int(self._sc._jvm.java.lang.ProcessHandle.current().pid())

    def set_group(self, group_id: str) -> None:
        self._sc.setJobGroup(group_id, group_id)

    def settle(self) -> None:
        """Wait until the listener bus has applied every event so far to
        the status store; call before reading a finished group."""
        self._bus.waitUntilEmpty()

    def group(self, group_id: str, task_detail: bool = False) -> GroupTotals:
        """Totals for ``group_id``.  ``task_detail`` also fetches the task
        list of each stage to find the longest task."""
        totals = GroupTotals()
        stage_ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group_id):
            totals.jobs += 1
            info = self._tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids - self._seen):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            self._seen.add(sid)
            totals.stages += 1
            totals.executor_run_s += st.executorRunTime() / 1e3
            totals.executor_cpu_s += st.executorCpuTime() / 1e9
            totals.input_mb += st.inputBytes() / _MB
            totals.output_mb += st.outputBytes() / _MB
            totals.shuffle_write_mb += st.shuffleWriteBytes() / _MB
            totals.spill_mb += st.diskBytesSpilled() / _MB
            totals.driver_result_kb += st.resultSize() / 1024
            if task_detail:
                totals.max_task_s = max(totals.max_task_s, self._max_task_s(st))
        return totals

    def _max_task_s(self, stage) -> float:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 1 << 30)
        longest = 0
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                longest = max(longest, metrics.get().executorRunTime())
        return longest / 1e3

    def cached_mb(self) -> float:
        """Memory plus disk size of every persisted RDD right now."""
        return sum(
            (r.memSize() + r.diskSize()) / _MB for r in self._jsc.getRDDStorageInfo()
        )

    def reset_peak_rss(self) -> None:
        """Restart the JVM's ``VmHWM`` from its current resident set."""
        with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
            f.write("5")

    def jvm_peak_rss_mb(self) -> float:
        """The JVM's resident-set high-water mark (``VmHWM``) since the
        last ``reset_peak_rss``."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")
