"""Repository benchmark for gbif_data_validator_spark.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 8 --trace 0

Runs one workload (crawl_fresh, crawl_incremental, jobserver_small) on
``local[nproc]`` in this process, checks every run or job against its
oracle, prints each metric with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run. ``--smoke`` shrinks every input for a quick self-check.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from common import (
    OUT_ROOT,
    PACKAGE,
    RESULTS_DIR,
    ROOT,
    become_subreaper,
    build_bench_session,
    host_probe,
    jvm_peak_rss_mb,
    median,
    nproc,
    stop_session,
    write_json,
)

#: metric name → unit, end-to-end (``--trace 0``)
END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "job_latency_s": "s",
    "job_latency_p90_s": "s",
    "jobs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "bytes_written_per_doc": "B/doc",
    "violation_recall": "ratio",
}

#: metric name → unit, per layer (``--trace 1``)
PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "plans.preflight.s": "s",
    "operators.record_checks.s": "s",
    "operators.record_checks.extraction_s": "s",
    "operators.record_checks.rows_out": "count",
    "functions.extraction.mb_per_s": "MB/s",
    "operators.uniqueness.s": "s",
    "operators.uniqueness.shuffle_bytes": "B",
    "operators.uniqueness.task_skew": "ratio",
    "operators.metrics.profile_s": "s",
    "operators.metrics.report_s": "s",
    "plans.checkpoint.read_s": "s",
    "plans.checkpoint.files_written": "count",
    "plans.engine.spark_jobs": "count",
    "plans.engine.stages": "count",
    "plans.engine.tasks": "count",
    "plans.engine.driver_gap_s": "s",
    "plans.engine.scan_amplification": "ratio",
    "plans.engine.shuffle_bytes_per_doc": "B/doc",
    "plans.engine.spill_bytes": "B",
    "plans.engine.executor_cpu_s": "s",
    "serving.http_server.submit_s": "s",
    "serving.http_server.status_s": "s",
    "plans.jobs.run_s": "s",
    "trace.latency_overhead_pct": "%",
}


#: untraced latencies kept per workload as the tracing-overhead reference
UNTRACED_HISTORY = 20


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up repetition")
    return p.parse_args(argv)


def _untraced_path(args) -> str:
    size = "-smoke" if args.smoke else ""
    return os.path.join(RESULTS_DIR, f"untraced-{args.workload}{size}.json")


def _untraced_latency(args) -> float:
    """Median job latency of the untraced runs of this workload recorded in
    this checkout (the last UNTRACED_HISTORY of them), else of one untraced
    run made now."""
    path = _untraced_path(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        if args.smoke:
            cmd.append("--smoke")
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    return median(_untraced_history(path))


def _untraced_history(path: str) -> list[float]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["job_latency_s"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import EventLog, Tracer, layer_metrics, run_probes, table_bytes

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    become_subreaper()
    baseline_latency = _untraced_latency(args) if args.trace else None

    # inputs and work dirs of earlier runs killed before their clean-up
    for name in os.listdir(OUT_ROOT) if os.path.isdir(OUT_ROOT) else ():
        if name.startswith("run-"):
            shutil.rmtree(os.path.join(OUT_ROOT, name), ignore_errors=True)
    run_dir = os.path.join(OUT_ROOT, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark's Python workers import the package from the checkout; every
    # temp file stays inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    tracer = Tracer(args.workload, enabled=bool(args.trace))
    sizes = workloads.SMOKE if args.smoke else workloads.FULL

    host_before = host_probe()
    t0 = time.perf_counter()
    spark = None
    try:
        spark = build_bench_session(run_dir, event_dir)
        session_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, tracer, sizes, args.seed, args.seconds, run_dir)
        res = workloads.WORKLOADS[args.workload](ctx)
        outcomes = res["outcomes"]
        if args.trace:
            if not res.get("served"):
                workloads.server_probe(ctx, res["probe_table"])
            probes = run_probes(spark, tracer, res["probe_table"], res["n_buckets"],
                                res["probe_work_dir"], run_dir)
            probe_bytes = table_bytes(res["probe_table"])
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    host_after = host_probe()
    total_s = time.perf_counter() - t0

    attempted = len(outcomes)
    failed = sum(1 for o in outcomes if not o.ok)
    e2e = workloads.end_to_end(res, session_s, rss)
    if args.trace:
        metrics = layer_metrics(EventLog(event_dir), probes, res["runs"], probe_bytes)
        for name, span in (
            ("serving.http_server.submit_s", "serving.http_server.submit"),
            ("serving.http_server.status_s", "serving.http_server.status"),
            ("plans.jobs.run_s", "plans.jobs.run"),
        ):
            # jobserver_small: measured jobs only, not its warm-up jobs
            durs = tracer.durations(span, since=res.get("measure_start", 0.0))
            metrics[name] = median(durs) if durs else 0.0
        metrics.setdefault(
            "plans.checkpoint.files_written", median([o.files_written for o in outcomes])
        )
        metrics["trace.latency_overhead_pct"] = (
            100.0 * (e2e["job_latency_s"] / baseline_latency - 1.0)
        )
        units = PER_LAYER_UNITS
        write_json(os.path.join(RESULTS_DIR, f"spans-{args.workload}-seed{args.seed}.json"),
                   tracer.spans)
    else:
        metrics = e2e
        units = END_TO_END_UNITS
        path = _untraced_path(args)
        history = _untraced_history(path) + [e2e["job_latency_s"]]
        write_json(path, {"job_latency_s": history[-UNTRACED_HISTORY:]})
    shutil.rmtree(run_dir)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={nproc()} samples={attempted}")
    for when, h in (("before", host_before), ("after", host_after)):
        print(f"host {when}: canary_s={h['canary_s']} load_avg_1m={h['load_avg_1m']}")
    print(f"phases: session_s={session_s:.2f} setup_reps_s="
          f"{[round(x, 2) for x in res['setup']]} setup_tail_s={res.get('setup_tail', 0.0):.2f} "
          f"run_s={[round(o.seconds, 2) for o in outcomes]} total_s={total_s:.2f}")
    print(f"failed_ratio={failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    for name, unit in units.items():
        print(f"{name:40s} {metrics[name]:>16.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
