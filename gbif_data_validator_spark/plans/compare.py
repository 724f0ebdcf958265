"""Run-over-run comparison — validation as CI.

Reference analog: the jobserver keeps every run's JobStatusResponse on disk
(jobserver/impl/FileJobStorage.java:53-133) but offers no comparison; real
pipelines re-validate after every fix/append and need the DELTA: which
checks got worse, which partitions flipped verdict. Both tables this reads
(checkpoint lineage + persisted violations) are the engine's own outputs,
so the comparison is pure plan over small data — no rescan of the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as cp


def report_history(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-run summary of every run that touched this work_dir, newest
    first — the jobserver's FileJobStorage listing (FileJobStorage.java:
    53-78) as one aggregation over the checkpoint lineage: run_id, time
    span, partitions validated (stream batches counted separately),
    row/violation totals, and the worst status. Pure plan over the
    lineage table — no violations read, no corpus scan."""
    return _history(cp.read_checkpoints(spark, os.path.join(work_dir, "checkpoint")))


def _history(cps: DataFrame) -> DataFrame:
    is_stream = F.col("partition_id").startswith("stream:")
    is_global = F.col("partition_id") == "GLOBAL"
    return (
        cps.groupBy("run_id")
        .agg(
            F.min("started_at").alias("started_at"),
            F.max("finished_at").alias("finished_at"),
            F.sum(F.when(~is_stream & ~is_global, 1).otherwise(0)).alias(
                "n_partitions"
            ),
            F.sum(F.when(is_stream, 1).otherwise(0)).alias("n_stream_batches"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
            F.max(F.when(F.col("status") == "FAIL", "FAIL"))
            .isNotNull()
            .alias("any_fail"),
        )
        .orderBy(F.col("finished_at").desc(), F.col("run_id").desc())
    )


def compare_runs(
    spark: SparkSession, work_dir: str, run_a: str, run_b: str
) -> dict:
    """Delta report between two runs sharing a work_dir lineage:

    - ``check_deltas``: per check_id — violation counts in A and B and the
      delta (B − A); a positive delta on a blocking check is a regression.
    - ``verdict_changes``: partitions whose PASS/FAIL verdict flipped,
      with both statuses.
    - ``fixed`` / ``regressed``: convenience lists of check_ids whose
      count went to zero / rose from zero.

    Counts come from each run's checkpoint rows (violations_by_check — the
    durable per-partition accounting), so the comparison costs one read of
    the #partitions-sized lineage table, never a corpus scan."""
    lineage = cp.Lineage.read(spark, os.path.join(work_dir, "checkpoint"))
    rows = [r for r in lineage.checkpoints if r.run_id in (run_a, run_b)]
    by_run: dict[str, dict[str, dict]] = {run_a: {}, run_b: {}}
    for r in rows:
        by_run[r.run_id][r.partition_id] = r

    def counts(run: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in by_run[run].values():
            for check, n in (r.violations_by_check or {}).items():
                out[check] = out.get(check, 0) + n
        return out

    ca, cb = counts(run_a), counts(run_b)
    checks = sorted(set(ca) | set(cb))
    check_deltas = {
        c: {"a": ca.get(c, 0), "b": cb.get(c, 0), "delta": cb.get(c, 0) - ca.get(c, 0)}
        for c in checks
    }
    verdict_changes = {}
    for pid in sorted(set(by_run[run_a]) & set(by_run[run_b])):
        sa, sb = by_run[run_a][pid].status, by_run[run_b][pid].status
        if sa != sb:
            verdict_changes[pid] = {"a": sa, "b": sb}
    return {
        "run_a": run_a,
        "run_b": run_b,
        "check_deltas": check_deltas,
        "verdict_changes": verdict_changes,
        "fixed": [c for c in checks if ca.get(c, 0) > 0 and cb.get(c, 0) == 0],
        "regressed": [c for c in checks if ca.get(c, 0) == 0 and cb.get(c, 0) > 0],
    }


def violation_diff(
    spark: SparkSession, work_dir: str, run_a: str, run_b: str
) -> DataFrame:
    """Row-level symmetric diff of the two runs' persisted violations:
    → (url, check_id, partition_id, in_a, in_b) for rows present in exactly
    one run — the record-level answer to "what exactly changed". One
    full-outer join over the (small) violations store, grouped first so the
    join keys are distinct on both sides."""
    from ..model import STAMPED_VIOLATIONS_SCHEMA

    path = os.path.join(work_dir, "violations")
    raw = spark.read.schema(STAMPED_VIOLATIONS_SCHEMA).parquet(path)
    key = ["url", "check_id", "partition_id"]

    def side(run: str, flag: str) -> DataFrame:
        return (
            raw.where(F.col("_run_id") == run)
            .select(*key)
            .distinct()
            .withColumn(flag, F.lit(True))
        )

    return (
        side(run_a, "in_a")
        .join(side(run_b, "in_b"), on=key, how="full_outer")
        .select(
            *key,
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
        )
        .where(F.col("in_a") != F.col("in_b"))
    )


def metric_anomalies(
    spark: SparkSession,
    work_dir: str,
    k: float = 3.0,
    min_history: int = 3,
    max_rel_increase: float | None = None,
    per_check: bool = False,
) -> list[dict]:
    """Deequ-AnomalyDetection analog over the work_dir's own run history:
    score each run's violation RATE (count/rows — immune to corpus growth)
    against the runs that preceded it, chronologically.

    Strategies (both online — a run is judged only by its PAST, so one
    bad month can't normalize itself into the baseline):

    - z-score (OnlineNormal analog): flag when |x − mean(prev)| >
      ``k``·std(prev); with a zero-variance history any change flags.
      Runs with fewer than ``min_history`` predecessors are never flagged
      (warm-up).
    - relative (RelativeRateOfChange analog, opt-in): additionally flag
      when rate > previous run's rate × ``max_rel_increase``.

    ``per_check=True`` scores one series per check_id (from the durable
    ``violations_by_check`` accounting) instead of the overall rate —
    the per-metric granularity Deequ's MetricsRepository gives.

    Cost: ONE aggregation over the #partitions-sized checkpoint lineage
    (never the corpus); the driver sees runs × checks rows — the same
    bounded-collect contract as ``compare_runs``. Returns chronologically
    ordered dicts: ``{run_id, finished_at, check_id, value, n_prev,
    mean_prev, std_prev, flagged}`` (check_id is ``_overall`` for the
    whole-run series)."""
    return _anomalies(
        cp.read_checkpoints(spark, os.path.join(work_dir, "checkpoint")),
        k, min_history, max_rel_increase, per_check,
    )


def _anomalies(cps: DataFrame, k, min_history, max_rel_increase, per_check) -> list[dict]:
    if per_check:
        # two bounded aggs: per-run totals (the rate denominator — computed
        # BEFORE the map explode, which would multiply n_rows by #checks),
        # then per-(run, check) counts; combined driver-side with explicit
        # zero-fill so a check that vanishes scores 0.0, not a series gap
        totals = {
            r["run_id"]: r.asDict()
            for r in cps.groupBy("run_id")
            .agg(
                F.max("finished_at").alias("finished_at"),
                F.sum("n_rows").alias("n_rows"),
            )
            .collect()
        }
        per = (
            cps.select(
                "run_id", F.explode("violations_by_check").alias("check_id", "n")
            )
            .groupBy("run_id", "check_id")
            .agg(F.sum("n").alias("n_viol"))
            .collect()
        )
        counts = {(r["run_id"], r["check_id"]): r["n_viol"] for r in per}
        checks = sorted({c for (_, c) in counts})
        series: dict[str, list[dict]] = {}
        for check_id in checks:
            series[check_id] = [
                {
                    "run_id": run_id,
                    "finished_at": t["finished_at"],
                    "check_id": check_id,
                    "value": (
                        counts.get((run_id, check_id), 0) / t["n_rows"]
                        if t["n_rows"]
                        else 0.0
                    ),
                }
                for run_id, t in totals.items()
            ]
    else:
        hist = [r.asDict() for r in _history(cps).collect()]
        hist.reverse()  # chronological
        series = {
            "_overall": [
                {
                    "run_id": h["run_id"],
                    "finished_at": h["finished_at"],
                    "check_id": "_overall",
                    "value": h["n_violations"] / h["n_rows"] if h["n_rows"] else 0.0,
                }
                for h in hist
            ]
        }

    out: list[dict] = []
    for check_id in sorted(series):
        rows = sorted(series[check_id], key=lambda r: (r["finished_at"], r["run_id"]))
        values: list[float] = []
        for row in rows:
            x = row["value"]
            n_prev = len(values)
            if n_prev:
                mean = sum(values) / n_prev
                var = sum((v - mean) ** 2 for v in values) / n_prev
                std = var**0.5
            else:
                mean = std = 0.0
            flagged = False
            if n_prev >= min_history:
                flagged = (
                    abs(x - mean) > k * std if std > 0 else x != mean
                )
                if max_rel_increase is not None and values[-1] > 0:
                    flagged = flagged or x > values[-1] * max_rel_increase
            out.append(
                {
                    **row,
                    "n_prev": n_prev,
                    "mean_prev": round(mean, 9),
                    "std_prev": round(std, 9),
                    "flagged": flagged,
                }
            )
            values.append(x)
    return out


def run_sketch(
    spark: SparkSession, work_dir: str, run_id: str
) -> tuple[int, list[float] | None]:
    """One run's pooled drift sketch ``(n, q)`` from the persisted sketch
    table: the run's window sketches (latest write per window within the
    run) merged via the weighted-ECDF pool. Reads only the sketch table —
    #windows × #runs KB-sized rows — never the corpus."""
    from ..operators.drift import merge_quantile_sketches

    lineage = cp.Lineage.read(spark, sketches=os.path.join(work_dir, "sketches"))
    return merge_quantile_sketches(lineage.window_sketches(run_id).values())


def psi_between_runs(
    spark: SparkSession,
    work_dir: str,
    run_a: str,
    run_b: str,
    n_buckets: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> dict:
    """Run-over-run PSI of the engine's drift metric (text length) from
    PERSISTED sketches — "did the distribution move between run A and
    run B" answered with zero corpus rescan, the PSI sibling of
    ``compare_runs`` (counts) and ``metric_anomalies`` (rates). Raises
    when either run left no sketch (drift off, or no work_dir windows) —
    a silent NaN would read as "no drift"."""
    from ..operators.drift import psi_from_sketches

    a, b = run_sketch(spark, work_dir, run_a), run_sketch(spark, work_dir, run_b)
    if not a[0] or a[1] is None:
        raise ValueError(f"run {run_a!r} has no persisted drift sketch in {work_dir!r}")
    if not b[0] or b[1] is None:
        raise ValueError(f"run {run_b!r} has no persisted drift sketch in {work_dir!r}")
    out = psi_from_sketches(a, b, n_buckets=n_buckets, lo=lo, hi=hi)
    out["run_ref"], out["run_cur"] = run_a, run_b
    return out
