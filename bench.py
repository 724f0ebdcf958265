"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total secs>, "unit": "sec",
   "queries": {name: secs, ...}, "sf": <sf>, "docs_per_sec": ...}

The headline workload is the north-star one: full validation-engine run
(all passes incl. byte-identity extraction) over a synthetic Common-Crawl
pages table sized to the sf, plus the heavier operator queries from
__spark_entry__ at the sf dir. Pages generation is cached to parquet under
.bench_cache/ so measured time is pure validation, not fixture synthesis.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: pages-table rows per sf unit (sf0.1 → 120k rows)
PAGES_PER_SF = 1_200_000


def host_canary() -> dict:
    """Fixed single-thread CPU workload + load average — a host-speed
    reference so a bench number can be read against the sandbox's
    documented invisible-throttle swings (BASELINE.md): compare
    canary_sec across rounds before comparing suite seconds."""
    t0 = time.time()
    import hashlib

    x = b"x" * 64
    for _ in range(2_000_000):
        x = hashlib.md5(x).digest() * 4
    return {
        "canary_sec": round(time.time() - t0, 2),
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def cached_pages(spark, n_rows: int, cache_root: str) -> str:
    """Generate-once pages fixture (violations on), keyed by row count."""
    path = os.path.join(cache_root, f"pages_n{n_rows}")
    if not (os.path.isdir(path) and os.path.exists(os.path.join(path, "_SUCCESS"))):
        from gbif_data_validator_spark.sources.synthetic import synth_pages

        synth_pages(spark, n_rows, with_violations=True).drop(
            "expected_issue"
        ).write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
    from gbif_data_validator_spark.session import build_session

    sf = sf_from_dir(SF_DIR)
    n_pages = max(int(PAGES_PER_SF * sf), 20_000)

    spark = build_session(
        app_name="gdv-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    cache_root = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    pages_path = cached_pages(spark, n_pages, cache_root)
    pages = spark.read.parquet(pages_path)

    # canary BEFORE the suite too (round-4 verdict item 8): with pre+post
    # host probes embedded, a throttled capture self-documents in the
    # artifact instead of needing BASELINE.md cross-referencing
    canary_pre = host_canary()

    timings: dict[str, float] = {}

    # --- warm-up (untimed): spin up python workers on every core, trigger
    # whole-stage codegen + pandas-UDF Arrow path once, so timed numbers
    # reflect steady-state throughput (as on a long-lived cluster, where
    # one-time JVM/worker start-up amortizes to zero over 100 TB).
    warm = pages.limit(4_000).repartition(CPUS)
    ValidationEngine(spark, EngineConfig(check_extraction=True)).run(warm)

    # Best-of-k per measurement: the sandbox host shows intermittent
    # invisible CPU throttling (no steal accounting), so min-of-k is the
    # least-interference estimate of true job cost. Two runs normally; a
    # third only when the first two disagree by >25% (one of them very
    # likely hit a throttle burst — measured swings reach 4x within
    # minutes on identical binaries, see BASELINE.md).
    def timed(fn, repeats: int = 2) -> float:
        times = []
        for _ in range(repeats):
            t0 = time.time()
            fn()
            times.append(time.time() - t0)
        if min(times) > 0 and (max(times) - min(times)) / min(times) > 0.25:
            t0 = time.time()
            fn()
            times.append(time.time() - t0)
        return round(min(times), 3)

    # --- headline: full validation engine run (all passes) ---------------
    last_report = {}

    def run_engine():
        eng = ValidationEngine(spark, EngineConfig(check_extraction=True))
        report = eng.run(pages)
        assert report.n_rows == n_pages
        last_report["issue_counts"] = dict(report.issue_counts)

    timings["validation_engine"] = timed(run_engine)
    docs_per_sec = round(n_pages / timings["validation_engine"], 1)

    # --- violation-row recall vs the planted labels (the baseline metric
    # is "docs/sec + violation-row recall"): expected per-class counts are
    # pure slot arithmetic (synth_pages injects on id % SLOT_MOD slots),
    # found counts come from the report — recall over the 7 row-level
    # classes; window/dup-grain checks (DRIFT_WINDOW, RECORD_NOT_
    # UNIQUELY_IDENTIFIED) have no 1:1 row labels and are pinned by the
    # engine goldens instead.
    from gbif_data_validator_spark.sources.synthetic import (
        SLOT_MOD,
        VIOLATION_SLOTS,
    )

    expected = {
        str(check): n_pages // SLOT_MOD + (1 if n_pages % SLOT_MOD > slot else 0)
        for slot, check in VIOLATION_SLOTS.items()
        if check != "URL_DUPLICATE"
    }
    found = last_report["issue_counts"]
    violation_recall = round(
        sum(min(found.get(k, 0), v) for k, v in expected.items())
        / sum(expected.values()),
        6,
    )

    # --- operator headliners over the sf testdata -------------------------
    qs = entry.queries()
    bench_queries = [
        "uniqueness_lineitem",     # hash agg over the largest table
        "pricing_summary",         # wide agg scan
        "events_windows",          # windowed agg
        "token_stats",             # narrow text functions
        "quality_scores",          # composite text scoring
        "ngram_jaccard",           # shingle posting-list join — measured
                                   # round 4 against the prefix-filtered
                                   # AllPairs path (bit-identical output):
                                   # posting-list wins at BOTH t=0.5
                                   # (2.67s vs 7.65s) and t=0.8 (3.53s vs
                                   # 6.73s) at sf0.1, because both plans
                                   # bound pair fan-out with max_df and
                                   # prefix pays 4 extra shuffles + a
                                   # verify join; prefix_jaccard remains
                                   # the documented no-cap lossless path
                                   # for high-threshold corpus-scale runs
                                   # (see BASELINE.md round-4 notes)
        "minhash_pairs",           # Arrow-batched signatures + banding
        "cosine_topk",             # broadcast brute-force ANN baseline
        "drift_events",            # quantile-sketch KS
    ]
    for name in bench_queries:
        timings[name] = timed(
            lambda: qs[name](spark, SF_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "validation_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "docs_per_sec": docs_per_sec,
                "violation_recall": violation_recall,
                "pages_rows": n_pages,
                "cpus": CPUS,
                "host": {**host_canary(),
                         "canary_sec_pre": canary_pre["canary_sec"],
                         "load_avg_1m_pre": canary_pre["load_avg_1m"]},
            }
        )
    )


if __name__ == "__main__":
    main()
