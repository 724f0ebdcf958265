"""Traced-run support: in-memory spans, Spark event-log parsing and the
per-layer probes.

Spans are recorded only from the benchmark's own files, around the calls it
makes into each layer of ``gbif_data_validator_spark``. Spark work is
attributed to a layer through the job group the benchmark sets before the
call (``bench:<name>``); the job server sets its own ``gdv-job-<id>``
groups. The event log is parsed once, after the session stops.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

from common import jvm_proc_value, median, tree_size


class Tracer:
    """Spans (id, name, start, end, parent, trace, workload) kept in memory
    and written out when the run ends. A disabled tracer records nothing
    and sets no job groups."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec = {
                "id": sid,
                "name": name,
                "start": start,
                "end": time.time(),
                "parent": parent,
                "trace": trace,
                "workload": self.workload,
                **attrs,
            }
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def job_group(self, sc, group: str):
        """Attribute the Spark jobs started inside the block to ``group``."""
        if not self.enabled:
            yield
            return
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Seconds of every ``name`` span that started at or after ``since``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["start"] >= since
        ]


def jvm_bytes_read(spark) -> int:
    """Bytes the driver JVM has read so far (``rchar`` of ``/proc/<pid>/io``:
    every read and pread, page-cache hits included). Spark's task input
    metrics stay near zero here: the parquet reader's vectored reads and
    the scans feeding a Python UDF bypass the file-system counters they
    come from."""
    return jvm_proc_value(spark, "io", "rchar")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, stages and task metrics of one application, keyed by job group."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(os.path.join(log_dir, files[0])) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            self.stage_group.setdefault(sid, props.get("spark.jobGroup.id"))
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            self.tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "duration": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "shuffle_read": sum(
                        (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                        for k in ("Remote Bytes Read", "Local Bytes Read")
                    ),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                }
            )

    def group(self, group: str, window: tuple[float, float] | None = None) -> dict:
        """Counts and sums for one job group. ``window`` (start, end) adds
        ``driver_gap_s``: the part of the window with no job of the group
        active."""
        jobs = [j for j in self.jobs.values() if j["group"] == group]
        stages = [s for s, g in self.stage_group.items() if g == group]
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        out = {
            "spark_jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "task_skew": self._skew(stages),
        }
        if window is not None:
            out["driver_gap_s"] = _gap(window, [(j["start"], j["end"]) for j in jobs])
        return out

    def _skew(self, stages: list[int]) -> float:
        """max / median task time of the group's largest shuffle-read stage
        (1.0 when the group read no shuffle)."""
        best, best_read = None, 0
        for s in stages:
            read = sum(t["shuffle_read"] for t in self.tasks.get(s, []))
            if read > best_read:
                best, best_read = s, read
        if best is None:
            return 1.0
        durs = [t["duration"] for t in self.tasks[best]]
        mid = median(durs)
        return max(durs) / mid if mid > 0 else 1.0


def _gap(window: tuple[float, float], intervals: list[tuple]) -> float:
    """Length of ``window`` not covered by any (start, end) interval."""
    lo, hi = window
    covered, cursor = 0.0, lo
    for s, e in sorted((max(s, lo), min(e if e else hi, hi)) for s, e in intervals):
        if e <= cursor:
            continue
        covered += e - max(s, cursor)
        cursor = e
    return max(0.0, (hi - lo) - covered)


# ---------------------------------------------------------------------------
# Per-layer probes
# ---------------------------------------------------------------------------

#: html documents in the fixed extraction sample (same for every workload)
EXTRACTION_SAMPLE_DOCS = 256
#: calls per Spark probe; the probe reports the median call
PROBE_REPEATS = 3


def _timed(tracer: Tracer, sc, name: str, fn) -> float:
    """Median seconds of PROBE_REPEATS calls, each under its own job group
    ``bench:<name>:<k>``."""
    times = []
    for k in range(PROBE_REPEATS):
        with tracer.span(name), tracer.job_group(sc, f"bench:{name}:{k}"):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_probes(
    spark, tracer: Tracer, table: str, n_buckets: int, work_dir: str | None, scratch: str
) -> dict:
    """Time one call into each layer's public functions over ``table``.
    Returns seconds (and counts) keyed by per-layer metric name; the
    event-log-derived numbers are filled in by :func:`layer_metrics`.
    Without a ``work_dir`` lineage from the workload, one engine run with a
    work_dir under ``scratch`` writes one, and its file count becomes
    ``plans.checkpoint.files_written``."""
    from pyspark.sql import functions as F

    from gbif_data_validator_spark.functions.extraction import extract_text
    from gbif_data_validator_spark.operators.metrics import (
        issue_counts_by_partition,
        partitioned_profile,
    )
    from gbif_data_validator_spark.operators.record_checks import (
        partition_id_col,
        run_record_checks,
    )
    from gbif_data_validator_spark.operators.sampling import distinct_first_samples
    from gbif_data_validator_spark.operators.uniqueness import uniqueness_violations
    from gbif_data_validator_spark.plans import checkpoint as cp
    from gbif_data_validator_spark.plans.preflight import preflight
    from gbif_data_validator_spark.sources.lang_dim import lang_dim
    from gbif_data_validator_spark.sources.synthetic import synth_pages
    from gbif_data_validator_spark.sources.tables import read_table

    sc = spark.sparkContext
    out: dict[str, float] = {}
    pages = read_table(spark, table)
    dim = lang_dim(spark)

    out["sources.scan_s"] = _timed(tracer, sc, "sources.scan", lambda: _noop(read_table(spark, table)))

    pre = []
    for _ in range(20):
        with tracer.span("plans.preflight"):
            t0 = time.perf_counter()
            preflight(pages)
            pre.append(time.perf_counter() - t0)
    out["plans.preflight.s"] = median(pre)

    def checks(extraction: bool):
        return run_record_checks(
            pages, check_extraction=extraction, n_buckets=n_buckets, lang_dim=dim
        )

    with_ext = _timed(tracer, sc, "operators.record_checks", lambda: _noop(checks(True)))
    without = _timed(tracer, sc, "operators.record_checks.no_extraction", lambda: _noop(checks(False)))
    out["operators.record_checks.s"] = with_ext
    out["operators.record_checks.extraction_s"] = with_ext - without
    out["operators.record_checks.rows_out"] = float(checks(True).count())

    sample = [
        r.html
        for r in synth_pages(spark, EXTRACTION_SAMPLE_DOCS, words_scale=10)
        .select("html")
        .collect()
    ]
    n_bytes, reps = sum(len(h) for h in sample), 0
    with tracer.span("functions.extraction"):
        t0 = time.perf_counter()
        while reps < 3 or time.perf_counter() - t0 < 0.5:
            for h in sample:
                extract_text(h)
            reps += 1
        dt = time.perf_counter() - t0
    out["functions.extraction.mb_per_s"] = n_bytes * reps / 1e6 / dt

    out["operators.uniqueness.s"] = _timed(
        tracer, sc, "operators.uniqueness", lambda: _noop(uniqueness_violations(pages))
    )

    keyed = pages.withColumn(
        "_partition_id", partition_id_col(F.col("warc_ts"), n_buckets, F.col("url"))
    )
    drift = F.when(F.col("warc_ts").isNotNull(), F.length(F.col("text")))
    out["operators.metrics.profile_s"] = _timed(
        tracer, sc, "operators.metrics.profile",
        lambda: partitioned_profile(keyed, "_partition_id", drift_metric=drift).collect(),
    )

    violations = checks(True).unionByName(uniqueness_violations(pages)).persist()
    violations.count()

    def report():
        issue_counts_by_partition(violations).collect()
        distinct_first_samples(violations, 10).collect()

    out["operators.metrics.report_s"] = _timed(tracer, sc, "operators.metrics.report", report)
    violations.unpersist()

    if work_dir is None:
        from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

        work_dir = os.path.join(scratch, "probe-lineage")
        cfg = EngineConfig(work_dir=work_dir, n_buckets=4, run_id="probe")
        with tracer.span("plans.checkpoint.write"), tracer.job_group(sc, "bench:lineage"):
            ValidationEngine(spark, cfg).run(pages)
        out["plans.checkpoint.files_written"] = float(tree_size(work_dir)[1])

    def reads():
        ck = os.path.join(work_dir, "checkpoint")
        cp.completed_partitions_all_runs(spark, ck)
        cp.latest_validators(spark, ck)
        cp.latest_window_profiles(spark, os.path.join(work_dir, "profiles"))
        cp.latest_window_sketches(spark, os.path.join(work_dir, "sketches"))

    out["plans.checkpoint.read_s"] = _timed(tracer, sc, "plans.checkpoint.read", reads)
    return out


def layer_metrics(log: EventLog, probes: dict, runs: list[dict], table_bytes: int) -> dict:
    """Per-layer metrics: probe timings plus event-log numbers. ``runs``
    holds one dict per measured engine run: its job ``group``, wall
    ``window`` (start, end), ``n_rows`` and JVM ``read_bytes``. Scan
    amplification counts the JVM's file reads minus the shuffle blocks it
    fetched, per byte of the input table."""
    out = dict(probes)
    uniq = [log.group(f"bench:operators.uniqueness:{k}") for k in range(PROBE_REPEATS)]
    out["operators.uniqueness.shuffle_bytes"] = median([g["shuffle_bytes"] for g in uniq])
    out["operators.uniqueness.task_skew"] = median([g["task_skew"] for g in uniq])

    per_run = [
        dict(log.group(r["group"], r["window"]), n_rows=r["n_rows"], read_bytes=r["read_bytes"])
        for r in runs
    ]

    def med(fn):
        return median([fn(g) for g in per_run])

    out["plans.engine.spark_jobs"] = med(lambda g: g["spark_jobs"])
    out["plans.engine.stages"] = med(lambda g: g["stages"])
    out["plans.engine.tasks"] = med(lambda g: g["tasks"])
    out["plans.engine.driver_gap_s"] = med(lambda g: g["driver_gap_s"])
    out["plans.engine.scan_amplification"] = med(
        lambda g: max(g["read_bytes"] - g["shuffle_read_bytes"], 0) / table_bytes
    )
    out["plans.engine.shuffle_bytes_per_doc"] = med(lambda g: g["shuffle_bytes"] / g["n_rows"])
    out["plans.engine.spill_bytes"] = med(lambda g: g["spill_bytes"])
    out["plans.engine.executor_cpu_s"] = med(lambda g: g["executor_cpu_s"])
    return out


def table_bytes(path: str) -> int:
    """On-disk bytes of a parquet table's data files."""
    return sum(
        os.path.getsize(os.path.join(path, name))
        for name in os.listdir(path)
        if name.endswith(".parquet")
    )
