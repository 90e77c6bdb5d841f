"""Per-op Spark attribution from the driver's status store.

Each op runs under its own job group. After the measured window the
jobs and stages that ran since ``mark()`` are read once from
``sc._jsc.sc().statusStore()`` and folded per group. A job that arrives
without a group (submitted from a thread pool that does not inherit the
caller's local properties) is attributed to the op whose wall interval
holds its submission time and is counted in ``untagged_jobs``; it is
never dropped.

The status store keeps only ``spark.ui.retained*`` jobs, stages and
tasks, so the benchmark's session raises those limits (``RETAIN_CONF``);
``fold`` refuses to run when the window's first job has been evicted
instead of reporting a partial sum.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field

RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "10000000",
}

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_bytes", "input_records", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "untagged_jobs",
)


@dataclass
class Exec:
    """Spark work attributed to one op."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    untagged_jobs: int = 0
    # (submission, completion) epoch seconds of each job
    intervals: list[tuple[float, float]] = field(default_factory=list)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class Ledger:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def mark(self) -> int:
        """Id of the newest job so far (-1 if none)."""
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def fold(self, since: int, windows: dict[str, tuple[float, float]]) -> dict[str, Exec]:
        """Attribute every job newer than ``since`` to an op.

        ``windows`` maps op group -> (start, end) epoch seconds; untagged
        jobs go to the op whose window holds their submission time."""
        out = {g: Exec() for g in windows}
        # a stage reused by a later job is listed by both: the earliest
        # job that lists it owns it
        stage_owner: dict[int, tuple[int, str]] = {}
        oldest = None
        for job in _seq(self.store.jobsList(None)):
            jid = job.jobId()
            if jid <= since:
                continue
            oldest = jid if oldest is None else min(oldest, jid)
            sub = _opt(job.submissionTime())
            done = _opt(job.completionTime())
            start = sub.getTime() / 1000.0 if sub is not None else None
            end = done.getTime() / 1000.0 if done is not None else start
            group = _opt(job.jobGroup())
            untagged = group is None
            if untagged and start is not None:
                group = next(
                    (g for g, (a, b) in windows.items() if a <= start <= b), None
                )
            if group not in out:
                continue  # setup or bookkeeping job outside the measured ops
            e = out[group]
            e.jobs += 1
            e.untagged_jobs += untagged
            if start is not None:
                e.intervals.append((start, end))
            for sid in _seq(job.stageIds()):
                sid = int(sid)
                if sid not in stage_owner or stage_owner[sid][0] > jid:
                    stage_owner[sid] = (jid, group)
        if oldest is not None and oldest > since + 1:
            raise RuntimeError(
                f"status store evicted jobs {since + 1}..{oldest - 1}; raise "
                "spark.ui.retainedJobs"
            )
        for sid, (_jid, group) in sorted(stage_owner.items()):
            st = self.store.lastStageAttempt(sid)
            if str(st.status()) in ("SKIPPED", "PENDING"):
                continue
            e = out[group]
            e.stages += 1
            e.tasks += st.numTasks()
            e.failed_tasks += st.numFailedTasks()
            e.executor_run_s += st.executorRunTime() / 1e3
            e.executor_cpu_s += st.executorCpuTime() / 1e9
            e.gc_s += st.jvmGcTime() / 1e3
            e.input_bytes += st.inputBytes()
            e.input_records += st.inputRecords()
            e.output_bytes += st.outputBytes()
            e.shuffle_read_bytes += st.shuffleReadBytes()
            e.shuffle_write_bytes += st.shuffleWriteBytes()
            e.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out
