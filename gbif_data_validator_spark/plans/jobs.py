"""Async job lifecycle — the reference's job-server surface, driver-side.

Reference analogs:
- ``JobServer.submit`` allocates an epoch-seeded job id, fires the work
  asynchronously and returns ACCEPTED immediately
  (jobserver/JobServer.java:73-82, id seed :63).
- ``JobStatusResponse`` lifecycle ACCEPTED → RUNNING → FINISHED / FAILED /
  KILLED (api/model/JobStatusResponse.java:18-36).
- ``FileJobStorage`` persists every status + the data outputs as
  ``{jobId}.json`` (jobserver/impl/FileJobStorage.java:53-133).
- ``JobServer.kill`` stops a running job (JobServer.java:119-134).

Spark design: the actor system is unnecessary — a driver thread per job
submits the engine run under a Spark *job group*
(``sc.setJobGroup``/``cancelJobGroup``), which is Spark's native kill
switch: cancelling the group aborts every stage the run has in flight.
Status documents are plain JSON files (swap the directory for a bucket in
production); ``status`` reads storage first, exactly like the reference
(live actor fallback → live thread fallback).
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .engine import EngineConfig, ValidationEngine

ACCEPTED = "ACCEPTED"
RUNNING = "RUNNING"
FINISHED = "FINISHED"
FAILED = "FAILED"
KILLED = "KILLED"
NOT_FOUND = "NOT_FOUND"


@dataclass
class JobRunner:
    """Submit/status/kill over ValidationEngine runs (JobServer analog)."""

    spark: SparkSession
    storage_dir: str
    _threads: dict[int, threading.Thread] = field(default_factory=dict)
    _killed: set[int] = field(default_factory=set)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _counter: int = 0

    def __post_init__(self) -> None:
        os.makedirs(self.storage_dir, exist_ok=True)
        # epoch-seeded id counter (JobServer.java:63) — ids survive restarts
        self._counter = int(time.time() * 1000)
        # a job left ACCEPTED/RUNNING by a crashed server has no thread that
        # will ever finish it: recover it as FAILED, naming the restart
        for name in os.listdir(self.storage_dir):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.storage_dir, name)) as f:
                    doc = json.load(f)
            except (OSError, ValueError):
                continue
            if doc.get("status") in (ACCEPTED, RUNNING):
                self._put(
                    doc["job_id"], FAILED,
                    error=f"job server restarted while the job was "
                    f"{doc['status']}; its run was lost",
                )

    # -- storage (FileJobStorage analog) --------------------------------
    def _path(self, job_id: int) -> str:
        return os.path.join(self.storage_dir, f"{job_id}.json")

    def _put(self, job_id: int, status: str, **extra) -> None:
        doc = {"job_id": job_id, "status": status, "ts": time.time(), **extra}
        tmp = self._path(job_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, default=str)
        os.replace(tmp, self._path(job_id))  # atomic: readers never see partial

    # -- lifecycle -------------------------------------------------------
    def submit(self, pages: DataFrame, config: EngineConfig | None = None) -> int:
        with self._lock:
            self._counter += 1
            job_id = self._counter
        self._put(job_id, ACCEPTED)
        group = f"gdv-job-{job_id}"

        def work() -> None:
            sc = self.spark.sparkContext
            sc.setJobGroup(group, f"validation job {job_id}", interruptOnCancel=True)
            self._put(job_id, RUNNING)
            try:
                report = ValidationEngine(self.spark, config).run(pages)
                self._put(job_id, FINISHED, report=report.to_dict())
            except Exception as e:  # cancelled stages surface as exceptions
                if job_id in self._killed:
                    self._put(job_id, KILLED)
                else:
                    self._put(
                        job_id, FAILED,
                        error=f"{type(e).__name__}: {e}",
                        trace=traceback.format_exc(limit=5),
                    )
            finally:
                # Spark 4 removed SparkContext.clearJobGroup; resetting the
                # local properties is the portable equivalent (and this is a
                # worker thread — a crash here dies unobserved, leaving the
                # thread-local group to leak onto any pooled reuse).
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
                # the status document is terminal by now: status and kill
                # answer from storage, so the finished thread is dropped
                with self._lock:
                    self._threads.pop(job_id, None)

        t = threading.Thread(target=work, name=group, daemon=True)
        with self._lock:
            self._threads[job_id] = t
        t.start()
        return job_id

    def status(self, job_id: int) -> dict:
        """Storage first, live-thread fallback (JobServer.java:87-102)."""
        if os.path.exists(self._path(job_id)):
            with open(self._path(job_id)) as f:
                return json.load(f)
        if job_id in self._threads:
            return {"job_id": job_id, "status": RUNNING}
        return {"job_id": job_id, "status": NOT_FOUND}

    def kill(self, job_id: int) -> dict:
        """Cancel every in-flight stage of the job's Spark job group
        (JobServer.kill analog, JobServer.java:119-134). cancelJobGroup only
        aborts jobs ALREADY running — a cancel landing in a driver-side gap
        between the engine's sequential actions would let the next action
        proceed — so the cancel is re-issued until the worker thread dies
        (each newly scheduled action is then cancelled within one beat)."""
        self._killed.add(job_id)
        t = self._threads.get(job_id)
        deadline = time.time() + 60
        while True:
            self.spark.sparkContext.cancelJobGroup(f"gdv-job-{job_id}")
            if t is None or not t.is_alive() or time.time() > deadline:
                break
            t.join(timeout=0.5)
        st = self.status(job_id)
        if st.get("status") not in (FINISHED, KILLED, FAILED):
            self._put(job_id, KILLED)
            st = self.status(job_id)
        return st

    def wait(self, job_id: int, timeout: float = 600.0) -> dict:
        """Block until the job reaches a terminal state (test/CLI helper)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            st = self.status(job_id)
            if st.get("status") in (FINISHED, FAILED, KILLED):
                return st
            time.sleep(0.2)
        raise TimeoutError(f"job {job_id} not terminal after {timeout}s")
