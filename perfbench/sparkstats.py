"""What Spark itself reports about an op: its jobs and stages from the
status store, and its micro-batch triggers from a streaming listener.

Jobs are attributed to an op by submission time, not by job group: job
groups are thread-local, so the jobs a DAG task submits from a
``PipelineRunner`` thread, or a stream submits from its micro-batch thread,
carry no group of the op's thread.  Snapshots are taken after every op, so
the status store's retention limits (``spark.ui.retainedJobs`` and
``retainedStages``, 1000 each) never evict an op's jobs before they are read.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener


@dataclass
class Job:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    status: str
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def drain(spark: SparkSession, timeout_ms: int = 5000) -> None:
    """Wait until every listener event posted so far reached the status
    store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class JobLog:
    """Reads the jobs submitted since the previous read."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.last_id = self._newest_id()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _newest_id(self) -> int:
        jobs = self._store().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def new_jobs(self) -> list[Job]:
        drain(self.spark)
        jobs = self._store().jobsList(None)
        out: list[Job] = []
        # newest first: stop at the first job already read
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_id:
                break
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            comp = j.completionTime()
            start = sub.get().getTime() / 1e3
            sids = j.stageIds()
            out.append(Job(
                j.jobId(), j.name(), start,
                comp.get().getTime() / 1e3 if comp.isDefined() else time.time(),
                str(j.status()), [sids.apply(k) for k in range(sids.size())]))
        if out:
            self.last_id = max(j.id for j in out)
        out.sort(key=lambda j: j.id)
        return out

    def stage_totals(self, jobs: list[Job]) -> StageTotals:
        store = self._store()
        tot = StageTotals()
        for sid in sorted({s for j in jobs for s in j.stages}):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            tot.tasks += sd.numTasks()
            tot.failed_tasks += sd.numFailedTasks()
            tot.executor_run_s += sd.executorRunTime() / 1e3
            tot.executor_cpu_s += sd.executorCpuTime() / 1e9
            tot.gc_s += sd.jvmGcTime() / 1e3
            tot.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            tot.spill_bytes += sd.diskBytesSpilled()
        return tot


def is_checkpoint_job(job: Job) -> bool:
    """Eager ``localCheckpoint``/``checkpoint`` materializations; PySpark
    names a job after the py4j call that submitted it."""
    return job.name.split(" at ", 1)[0] in ("localCheckpoint", "checkpoint")


@dataclass
class Trigger:
    duration_ms: dict
    input_rows: int


class TriggerLog(StreamingQueryListener):
    """Collects the progress of every micro-batch trigger."""

    def __init__(self):
        self.triggers: list[Trigger] = []
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.triggers.append(Trigger(dict(p.durationMs or {}),
                                         int(p.numInputRows or 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def take(self, timeout_s: float = 10.0) -> list[Trigger]:
        """The triggers since the previous take, once every started query
        has reported its termination."""
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= self.started,
                              timeout_s)
            out, self.triggers = self.triggers, []
            return out
