"""Async offline-job manager — the TaskManager analogue (SURVEY §3.3).

Reference surface:

- job types (``ImportOfflineData`` / ``ImportOnlineData`` /
  ``ExportOfflineData`` / ``RunBatchSql`` ...):
  ``java/openmldb-taskmanager/.../OpenmldbBatchjobManager.scala``
- job row + states: ``dao/JobInfo.java:32`` (``FINAL_STATE = finished,
  failed, killed, lost``), initial state "Submitted"
  (``spark/SparkJobManager.scala:59``), then "Running"
- STOP JOB: ``JobInfoManager.scala:100-124`` — kills the cluster job,
  sets state STOPPED (unconditionally on the non-YARN path, :117) and
  returns the job row
- SHOW JOBS returns newest-first (``JobInfoManager.scala`` sorts id desc)
- DELETE JOB: "not supported yet" (``JobInfoManager.scala:127``)

Spark-first design: the reference spawns a separate ``spark-submit``
process per job and tracks it via YARN; in one SparkSession the idiomatic
equivalent is a thread driving Spark actions under a dedicated **job
group** — ``sc.setJobGroup(group, desc, interruptOnCancel=True)`` is
thread-scoped under PySpark's pinned-thread mode (the default since
Spark 3.2), so ``STOP JOB`` maps to ``sc.cancelJobGroup(group)``: the
same kill the reference issues through the cluster manager, without the
extra process hop. At 100 TB the job body is still one lazy DataFrame
write — nothing here touches the data path.

Sync semantics: the reference submits offline jobs asynchronously by
default and blocks only under ``SET @@sync_job='true'``. This engine
defaults to sync (DIVERGENCES: LOAD-then-SELECT scripts see their data
without polling, matching the ported corpus); ``SET @@sync_job='false'``
opts into the reference's async default.
"""

from __future__ import annotations

import datetime
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

#: SHOW JOBS / SHOW JOB / STOP JOB row contract — the reference's JOB_INFO
#: schema (cases/integration_test/out_in/test_job.yaml id 0)
JOB_SCHEMA = (
    "id int, job_type string, state string, start_time timestamp, "
    "end_time timestamp, parameter string, cluster string, "
    "application_id string, error string"
)

def _ts(ms: Optional[int]) -> Optional[datetime.datetime]:
    return datetime.datetime.fromtimestamp(ms / 1000.0) if ms else None


@dataclass
class JobInfo:
    id: int
    job_type: str
    parameter: str
    cluster: str
    application_id: str
    state: str = "Submitted"
    start_time_ms: Optional[int] = None
    end_time_ms: Optional[int] = None
    error: str = ""
    #: lifecycle log lines — the in-process analogue of the reference's
    #: per-job spark-submit stdout/stderr files (SHOW JOBLOG reads them,
    #: JobInfoManager.scala job log dirs); one SparkSession has no child
    #: process output to capture, so the log records state transitions and
    #: the full failure traceback instead
    log: list = field(default_factory=list, repr=False)
    _thread: Optional[threading.Thread] = field(default=None, repr=False)
    _cancel: threading.Event = field(default_factory=threading.Event, repr=False)
    _exc: Optional[BaseException] = field(default=None, repr=False)

    def _log(self, line: str) -> None:
        self.log.append(f"{datetime.datetime.now():%Y-%m-%d %H:%M:%S} {line}")

    def log_text(self) -> str:
        """SHOW JOBLOG body — the reference prints 'Stdout:' then 'Stderr:'
        sections (docs/en/openmldb_sql/task_manage/SHOW_JOBLOG.md)."""
        return "Stdout:\n\nStderr:\n" + "\n".join(self.log)

    @property
    def group_id(self) -> str:
        return f"openmldb-job-{self.id}"

    def row(self) -> tuple:
        return (
            self.id, self.job_type, self.state, _ts(self.start_time_ms),
            _ts(self.end_time_ms), self.parameter, self.cluster,
            self.application_id, self.error,
        )

    def wait(self, timeout: Optional[float] = None) -> "JobInfo":
        if self._thread is not None:
            self._thread.join(timeout)
        return self


class JobManager:
    """Tracks offline jobs for one SparkSession (one engine)."""

    def __init__(self, spark):
        self.spark = spark
        self.jobs: dict[int, JobInfo] = {}
        self._lock = threading.Lock()

    def _new(self, job_type: str, parameter: str) -> JobInfo:
        sc = self.spark.sparkContext
        with self._lock:
            jid = len(self.jobs) + 1
            job = JobInfo(jid, job_type, parameter, sc.master, sc.applicationId)
            self.jobs[jid] = job
        return job

    def submit(
        self,
        job_type: str,
        parameter: str,
        fn: Callable[[], None],
        *,
        sync: bool = True,
    ) -> JobInfo:
        """Run ``fn()`` as a tracked job under its own Spark job group.

        ``sync=True`` blocks until the job ends and re-raises its failure
        (the reference's ``@@sync_job``); ``sync=False`` returns the
        Submitted/Running JobInfo immediately (reference default)."""
        job = self._new(job_type, parameter)
        job._log(f"job {job.id} ({job_type}) submitted")
        sc = self.spark.sparkContext

        def run() -> None:
            job.start_time_ms = int(time.time() * 1000)
            job.state = "Running"
            job._log(f"job {job.id} ({job.job_type}) running: {job.parameter}")
            # thread-scoped under pinned-thread mode: only THIS job's
            # Spark actions join the group, so cancelJobGroup is precise
            sc.setJobGroup(job.group_id, f"{job.job_type} job {job.id}", True)
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — job bookkeeping
                job.end_time_ms = int(time.time() * 1000)
                if job._cancel.is_set():
                    job.state = "STOPPED"
                    job._log(f"job {job.id} stopped")
                else:
                    # error/log BEFORE state: state is the publication
                    # point pollers key on (SHOW JOB right after FAILED
                    # must already carry the message)
                    job.error = str(e)
                    job._exc = e
                    import traceback

                    job._log(
                        f"job {job.id} failed:\n"
                        + "".join(traceback.format_exception(type(e), e, e.__traceback__))
                    )
                    job.state = "FAILED"
                return
            job.end_time_ms = int(time.time() * 1000)
            job.state = "STOPPED" if job._cancel.is_set() else "FINISHED"
            job._log(f"job {job.id} {job.state.lower()}")

        t = threading.Thread(target=run, daemon=True, name=job.group_id)
        job._thread = t
        t.start()
        if sync:
            t.join()
            if job._exc is not None:
                raise job._exc
        return job

    def get(self, job_id: int) -> JobInfo:
        job = self.jobs.get(job_id)
        if job is None:
            raise ValueError(f"unknown job {job_id}")
        return job

    def stop(self, job_id: int) -> JobInfo:
        """STOP JOB: cancel the job group, wait for the thread to unwind,
        set STOPPED (the reference sets it unconditionally on the
        non-YARN path — even on an already-final job,
        JobInfoManager.scala:117) and return the row."""
        job = self.get(job_id)
        job._cancel.set()
        if job._thread is not None and job._thread.is_alive():
            # repeated cancel closes the submit/cancel race: a Spark action
            # entered AFTER a cancelJobGroup call is not affected by that
            # call, so keep cancelling until the job thread exits
            deadline = time.time() + 30.0
            while job._thread.is_alive() and time.time() < deadline:
                self.spark.sparkContext.cancelJobGroup(job.group_id)
                job._thread.join(0.2)
        job.state = "STOPPED"
        if job.end_time_ms is None:
            job.end_time_ms = int(time.time() * 1000)
        return job

    def rows(self) -> list[tuple]:
        """All job rows, newest first (reference sort order)."""
        return [j.row() for _, j in sorted(self.jobs.items(), reverse=True)]
