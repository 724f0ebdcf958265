"""Shared plumbing for the benchmark: paths, the Spark session and the
processes behind it, host metadata, input synthesis and small statistics
helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench/``.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import time

#: checkout root: the directory that holds ``perfbench/``
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gbif_data_validator_spark"
OUT_ROOT = os.path.join(ROOT, ".perfbench")
RESULTS_DIR = os.path.join(OUT_ROOT, "results")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_probe() -> dict:
    """Host metadata recorded before and after each workload: a fixed
    single-thread CPU canary (seconds for 300k chained md5 digests) and the
    1-minute load average. A throttled host shows as a slow canary."""
    t0 = time.perf_counter()
    x = b"x" * 64
    for _ in range(300_000):
        x = hashlib.md5(x).digest() * 4
    return {
        "canary_s": round(time.perf_counter() - t0, 4),
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }


def build_bench_session(run_dir: str, event_log_dir: str | None = None):
    """A ``local[nproc]`` session through the package's own factory. All
    scratch (shuffle files, warehouse, JVM temp) stays inside ``run_dir``;
    ``event_log_dir`` turns the Spark event log on (traced runs only)."""
    from gbif_data_validator_spark.session import build_session

    cpus = nproc()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # heap committed up front: the driver's peak RSS then tracks the
        # pages the run touches, not when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: prctl option that makes orphaned descendants this process's children
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (the JVM's Python workers outlive
    it briefly), so ``reap_all`` can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Every live process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # ended while we looked
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def reap_all(timeout: float = 30.0) -> None:
    """Wait until this process has no child left (with ``become_subreaper``
    that is every descendant); after ``timeout`` seconds send the rest
    SIGTERM, after as many again SIGKILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)
    raise RuntimeError(f"processes did not end: {descendants()}")


def stop_session(spark=None) -> None:
    """Stop the session (if one was made) and the JVM behind it (if one was
    launched), and wait until the JVM and every Python worker it started
    have ended. ``spark.stop()`` alone leaves the gateway JVM running until
    it reads EOF on its stdin, which would only happen after this process
    exits."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_all()


def jvm_proc_value(spark, name: str, key: str) -> int:
    """The integer after ``key:`` in ``/proc/<driver JVM pid>/<name>``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/{name}") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} not found in /proc/{pid}/{name}")


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM, in MiB."""
    return jvm_proc_value(spark, "status", "VmHWM") / 1024.0


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def copy_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def p90(xs: list[float]) -> float:
    """90th percentile (inclusive interpolation; the max for < 2 samples)."""
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def write_json(path: str, doc) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    os.replace(tmp, path)


def write_pages(df, path: str, seed: int, salt: int) -> str:
    """Write a pages table in a seed-chosen row (and so file) order: rows
    sort by a seeded hash of their content, then range-partition into
    ``spark.sql.shuffle.partitions`` files."""
    from pyspark.sql import functions as F

    key = F.xxhash64(
        F.col("url"), F.col("text"), F.col("warc_ts").cast("string"),
        F.lit(seed), F.lit(salt),
    )
    df.orderBy(key).write.mode("overwrite").parquet(path)
    return path
