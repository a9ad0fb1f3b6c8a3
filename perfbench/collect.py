"""Outside-in Spark counters for the benchmark.

Nothing here reaches into the library: every number comes from Spark's
own bookkeeping, read after the benchmark has tagged its calls with a
job group.

* jobs: ``statusTracker().getJobIdsForGroup(group)``;
* per-stage task metrics: the core status store's ``stageData`` (all
  attempts, so failed attempts are counted); skipped stages report zeros;
* job wall intervals: the status store's ``JobData`` submission and
  completion times (millisecond resolution);
* plan shape: shuffle ``Exchange`` and file-scan nodes counted in the
  ``executedPlan()`` string;
* Catalyst phases: ``queryExecution().tracker().phases()``.

Read the store only after ``drain()``: the listener bus updates it
asynchronously.
"""

from __future__ import annotations

import contextlib
import re

#: stage fields summed over every stage of a job group
STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "input_records",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "cpu_s",
    "gc_s",
    "output_records",
)

_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)")
_SCAN = re.compile(r"\bFileScan \w+")


class Collector:
    """Reads Spark's status store for job groups set by the benchmark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._gateway = self.sc._gateway
        self._store = self._jsc_sc.statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every job started inside the block with job group `name`,
        restoring the enclosing group afterwards."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            if prev is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(prev, prev)

    def drain(self) -> None:
        self._jsc_sc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_interval(self, job_id: int):
        """(submitted_ms, completed_ms) of a finished job, or None."""
        jd = self._store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            return None
        return sub.get().getTime(), done.get().getTime()

    def job_name(self, job_id: int) -> str:
        """The job's call site, e.g. ``collect at .../pipeline.py:153``."""
        return str(self._store.job(job_id).name())

    def _stage_attempts(self, stage_id: int):
        data = self._store.stageData(
            stage_id,
            False,
            self._jvm.java.util.ArrayList(),
            False,
            self._gateway.new_array(self._jvm.double, 0),
        )
        return [data.apply(i) for i in range(data.size())]

    def stats(self, job_ids) -> dict:
        """Summed stage metrics, job/stage counts and busy wall time
        (union of job intervals, so concurrent jobs count once) for
        the given jobs. Call `drain()` first."""
        out = {k: 0 for k in STAGE_FIELDS}
        out["cpu_s"] = out["gc_s"] = 0.0
        stage_ids: set[int] = set()
        intervals = []
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            iv = self.job_interval(j)
            if iv is not None:
                intervals.append(iv)
        ran = 0
        for sid in sorted(stage_ids):
            for s in self._stage_attempts(sid):
                if s.status().toString() == "SKIPPED":
                    continue
                ran += 1
                out["tasks"] += s.numTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["input_records"] += s.inputRecords()
                out["input_bytes"] += s.inputBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["output_records"] += s.outputRecords()
        out["jobs"] = len(job_ids)
        out["stages"] = ran
        out["busy_s"] = union_length(intervals) / 1e3
        return out

    def group_stats(self, *groups: str) -> dict:
        ids = sorted({j for g in groups for j in self.job_ids(g)})
        return self.stats(ids)


def union_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def plan_counts(df) -> dict:
    """Shuffle exchanges, file scans and Catalyst phase times of `df`'s
    own query execution. Forces optimization and planning when they have
    not run yet (a write plans a separate query execution), so call it
    outside any timed region."""
    qe = df._jdf.queryExecution()
    # an executed adaptive plan prints its final and initial plans; count one
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    phases = qe.tracker().phases()
    out = {
        "exchanges": len(_SHUFFLE.findall(plan)),
        "scan_nodes": len(_SCAN.findall(plan)),
    }
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[f"{name}_ms"] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out
