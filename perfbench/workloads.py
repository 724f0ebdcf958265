"""The three workloads: set-up (inputs, oracle, warm-up), the closed-loop
measurement and the end-to-end metrics of each.

Every workload sets up ``Sizes.setup_reps`` times; a repetition builds that
repetition's inputs (``jobserver_small`` also takes its oracle and pushes
one warm-up job per client through the server). A one-off tail follows
where a workload needs one: warm-up runs, a baseline lineage, an oracle.
``setup_s`` is the session start plus the median repetition plus the tail.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import urllib.request
from dataclasses import dataclass

from common import copy_tree, median, nproc, p90, tree_size, write_pages
from tracing import Tracer, jvm_bytes_read


@dataclass(frozen=True)
class Sizes:
    setup_reps: int
    #: crawl_fresh: rows and body-length multiplier (10 → multi-KB html)
    fresh_rows: int
    fresh_words_scale: int
    #: crawl_incremental: history rows, appended-month rows, recrawl share
    hist_rows: int
    hist_words_scale: int
    month_rows: int
    recrawl_share: float
    n_buckets: int
    #: jobserver_small: rows per table, concurrent clients
    job_rows: int
    clients: int


FULL = Sizes(
    setup_reps=3,
    fresh_rows=8_000, fresh_words_scale=10,
    hist_rows=10_000, hist_words_scale=2, month_rows=1_500, recrawl_share=0.1,
    n_buckets=4,
    job_rows=2_000, clients=2,
)
SMOKE = Sizes(
    setup_reps=1,
    fresh_rows=3_000, fresh_words_scale=1,
    hist_rows=1_200, hist_words_scale=1, month_rows=200, recrawl_share=0.1,
    n_buckets=4,
    job_rows=300, clients=2,
)

#: first instant of the appended recrawl month (UTC) and its length
APPENDED_MONTH = "2025-01-01 00:00:00"
MONTH_SECONDS = 31 * 86400


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    sizes: Sizes
    seed: int
    seconds: float
    run_dir: str


@dataclass
class Outcome:
    """What one engine run or job produced, as seen by its caller."""

    seconds: float
    n_rows: int
    ok: bool
    recall: float
    bytes_written: float = 0.0
    files_written: int = 0


def recall(found: dict, expected: dict) -> float:
    """Share of the oracle's violations the run reported."""
    total = sum(expected.values())
    if total == 0:
        return 1.0
    return sum(min(found.get(k, 0), v) for k, v in expected.items()) / total


def _read(spark, path):
    from gbif_data_validator_spark.sources.tables import read_table

    return read_table(spark, path)


def _synth(spark, n_rows: int, words_scale: int):
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    return synth_pages(spark, n_rows, words_scale=words_scale).drop("expected_issue")


def _setup_reps(ctx: Ctx, rep_fn) -> list[float]:
    times = []
    for r in range(ctx.sizes.setup_reps):
        with ctx.tracer.span("setup.rep", rep=r):
            t0 = time.perf_counter()
            rep_fn(r)
            times.append(time.perf_counter() - t0)
    return times


def _engine_run(ctx: Ctx, i: int, table: str, config):
    """One timed engine run under its own job group; returns (report,
    seconds, run record for the event log)."""
    from gbif_data_validator_spark.plans.engine import ValidationEngine

    group = f"bench:run:{i}"
    sc = ctx.spark.sparkContext
    traced = ctx.tracer.enabled
    read0 = jvm_bytes_read(ctx.spark) if traced else 0
    with ctx.tracer.span("plans.engine.run", trace=group), ctx.tracer.job_group(sc, group):
        start = time.time()
        t0 = time.perf_counter()
        report = ValidationEngine(ctx.spark, config).run(_read(ctx.spark, table))
        dt = time.perf_counter() - t0
    run = {"group": group, "window": (start, start + dt), "n_rows": report.n_rows,
           "read_bytes": jvm_bytes_read(ctx.spark) - read0 if traced else 0}
    return report, dt, run


#: fewest measured runs of a batch workload, however long they take
MIN_RUNS = 3
#: untimed engine runs before crawl_fresh measures: run times keep falling
#: for the first ~6 engine runs in a fresh JVM (JIT), then level off
WARMUP_RUNS = 5


def _closed_loop(ctx: Ctx, one) -> tuple[list[Outcome], list[dict]]:
    """One caller, next run only after the last returned: runs until the
    timed engine seconds reach ``ctx.seconds`` (and at least MIN_RUNS)."""
    outcomes, runs, used = [], [], 0.0
    while used < ctx.seconds or len(outcomes) < MIN_RUNS:
        out, run = one(len(outcomes))
        outcomes.append(out)
        runs.append(run)
        used += out.seconds
    return outcomes, runs


# ---------------------------------------------------------------------------
# crawl_fresh
# ---------------------------------------------------------------------------


def fresh_oracle(n_rows: int) -> dict:
    """Per-check counts of a fresh run over ``synth_pages(n_rows)``: each
    planted row class lands on ``id % SLOT_MOD`` slots; a slot-7 row copies
    the url of row ``id + 3`` (``id - 994`` past the end), so the duplicated
    keys are the distinct copy targets; one month carries the planted drift
    (flagged once that month holds enough rows, from ~3k table rows)."""
    from gbif_data_validator_spark.model import CheckId
    from gbif_data_validator_spark.sources.synthetic import SLOT_MOD, VIOLATION_SLOTS

    out = {}
    for slot, check in VIOLATION_SLOTS.items():
        if check != "URL_DUPLICATE":
            out[check] = n_rows // SLOT_MOD + (1 if n_rows % SLOT_MOD > slot else 0)
    targets = {i + 3 if i + 3 < n_rows else i - 994 for i in range(7, n_rows, SLOT_MOD)}
    out[CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED] = len(targets)
    out[CheckId.DRIFT_WINDOW] = 1
    return out


def crawl_fresh(ctx: Ctx) -> dict:
    from gbif_data_validator_spark.plans.engine import EngineConfig

    s = ctx.sizes
    base = os.path.join(ctx.run_dir, "fresh")
    tables: list[str] = []
    expected = fresh_oracle(s.fresh_rows)
    reports_dir = os.path.join(base, "reports")

    def rep(r: int) -> None:
        with ctx.tracer.span("sources.synthetic.write"):
            tables.append(write_pages(
                _synth(ctx.spark, s.fresh_rows, s.fresh_words_scale),
                os.path.join(base, f"table_{r}"), ctx.seed, r,
            ))

    setup = _setup_reps(ctx, rep)
    # one-off tail: warm-up runs (the first engine run in a JVM is ~3x slower)
    t0 = time.perf_counter()
    for w in range(WARMUP_RUNS):
        report, _, _ = _engine_run(ctx, -1 - w, tables[w % len(tables)], EngineConfig())
        if report.issue_counts != expected:
            raise RuntimeError(f"warm-up run disagrees with the oracle: {report.issue_counts}")
    tail = time.perf_counter() - t0

    def one(i: int):
        report, dt, run = _engine_run(ctx, i, tables[i % len(tables)], EngineConfig())
        before = tree_size(reports_dir)[0]
        report.write_json(reports_dir)
        written = tree_size(reports_dir)[0] - before
        ok = report.n_rows == s.fresh_rows and report.issue_counts == expected
        rec = recall(report.issue_counts, expected)
        return Outcome(dt, report.n_rows, ok, rec, written), run

    outcomes, runs = _closed_loop(ctx, one)
    return {"setup": setup, "setup_tail": tail, "outcomes": outcomes, "runs": runs,
            "probe_table": tables[0],
            "probe_work_dir": None, "n_buckets": 1}


# ---------------------------------------------------------------------------
# crawl_incremental
# ---------------------------------------------------------------------------


def appended_month(spark, history: str, n_rows: int, share: float, seed: int, salt: int):
    """One month of light pages appended after the history: ``share`` of
    the rows are recrawls of seed-chosen history urls, the rest are new
    urls; timestamps are seed-drawn inside the month (null stays null) and
    the row order is seed-shuffled."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, salt])
    pdf = _synth(spark, n_rows, 1).toPandas()
    new_url = pdf["url"].str.replace("^https://", "https://m2025-01.", regex=True)
    hist_urls = sorted(
        r.url
        for r in _read(spark, history).select("url").where("url like 'https://%'").collect()
    )
    n_re = int(round(share * n_rows))
    rows = rng.choice(n_rows, n_re, replace=False)
    picks = rng.choice(len(hist_urls), n_re, replace=False)
    new_url.iloc[rows] = [hist_urls[j] for j in picks]
    pdf["url"] = new_url
    offsets = pd.to_timedelta(rng.integers(0, MONTH_SECONDS, n_rows), unit="s")
    month_ts = pd.Timestamp(APPENDED_MONTH) + offsets
    pdf["warc_ts"] = pdf["warc_ts"].where(pdf["warc_ts"].isna(), month_ts)
    pdf = pdf.iloc[rng.permutation(n_rows)].reset_index(drop=True)
    return spark.createDataFrame(pdf, schema=_read(spark, history).schema)


def crawl_incremental(ctx: Ctx) -> dict:
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    s = ctx.sizes
    base = os.path.join(ctx.run_dir, "incremental")
    tables: list[str] = []

    def rep(r: int) -> None:
        with ctx.tracer.span("sources.synthetic.write"):
            tables.append(write_pages(
                _synth(ctx.spark, s.hist_rows, s.hist_words_scale),
                os.path.join(base, f"table_{r}"), ctx.seed, r,
            ))

    setup = _setup_reps(ctx, rep)
    # one-off tail on the last repetition's table: the baseline lineage over
    # the history months, the appended recrawl month, and the oracle — a
    # fresh work_dir run over the combined table
    t0 = time.perf_counter()
    last = len(tables) - 1
    table, pristine = tables[last], os.path.join(base, "baseline")
    base_cfg = EngineConfig(work_dir=pristine, n_buckets=s.n_buckets, run_id="baseline")
    _engine_run(ctx, -10, table, base_cfg)
    month = appended_month(ctx.spark, table, s.month_rows, s.recrawl_share, ctx.seed, last)
    with ctx.tracer.span("sources.append_month"):
        month.coalesce(2).write.mode("append").parquet(table)
    oracle_dir = os.path.join(base, "oracle")
    oracle = ValidationEngine(
        ctx.spark, EngineConfig(work_dir=oracle_dir, n_buckets=s.n_buckets)
    ).run(_read(ctx.spark, table))
    shutil.rmtree(oracle_dir)
    live = os.path.join(base, "live")
    tail = time.perf_counter() - t0

    def one(i: int):
        copy_tree(pristine, live)  # untimed: restore the baseline lineage
        b0, f0 = tree_size(live)
        config = EngineConfig(work_dir=live, n_buckets=s.n_buckets,
                              baseline_run_id="baseline", run_id=f"inc{i}")
        report, dt, run = _engine_run(ctx, i, table, config)
        b1, f1 = tree_size(live)
        ok = (
            report.n_rows == oracle.n_rows
            and report.issue_counts == oracle.issue_counts
            and report.metrics.get("_scope") == "full_table_merged"
        )
        rec = recall(report.issue_counts, oracle.issue_counts)
        return Outcome(dt, report.n_rows, ok, rec, b1 - b0, f1 - f0), run

    outcomes, runs = _closed_loop(ctx, one)
    copy_tree(pristine, live)
    return {"setup": setup, "setup_tail": tail, "outcomes": outcomes, "runs": runs,
            "probe_table": table, "probe_work_dir": live, "n_buckets": s.n_buckets}


# ---------------------------------------------------------------------------
# jobserver_small
# ---------------------------------------------------------------------------


class _Client:
    """Minimal JSON-over-HTTP client for the job server's REST routes."""

    def __init__(self, port: int) -> None:
        self.base = f"http://127.0.0.1:{port}/jobserver"

    def _call(self, req) -> dict:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def submit(self, path: str) -> dict:
        body = json.dumps({"path": path}).encode()
        return self._call(urllib.request.Request(
            self.base + "/submit", data=body, method="POST",
            headers={"Content-Type": "application/json"},
        ))

    def status(self, job_id: int) -> dict:
        return self._call(f"{self.base}/status/{job_id}")

    def output(self, job_id: int, kind: str) -> dict:
        return self._call(f"{self.base}/output/{job_id}/{kind}")


#: client-side status poll interval (seconds); latency uses the server's
#: FINISHED timestamp, so the interval adds nothing to it. Status calls run
#: in the server's process and hold its GIL for ~3 ms each, so a tighter
#: interval slows the jobs it polls and makes their latency noisier.
POLL_S = 0.1
JOB_TIMEOUT_S = 120.0


def _one_job(ctx: Ctx, client: _Client, table: dict, n: int) -> Outcome:
    tr = ctx.tracer
    trace = f"job:{n}"
    with tr.span("job", trace=trace):
        with tr.span("serving.http_server.submit", trace=trace):
            t_submit = time.time()
            job_id = client.submit(table["path"])["job_id"]
        deadline = t_submit + JOB_TIMEOUT_S
        while True:
            with tr.span("serving.http_server.status", trace=trace):
                st = client.status(job_id)
            if st["status"] in ("FINISHED", "FAILED", "KILLED") or time.time() > deadline:
                break
            time.sleep(POLL_S)
        if st["status"] != "FINISHED":
            return Outcome(time.time() - t_submit, 0, False, 0.0)
        with tr.span("serving.http_server.output", trace=trace):
            t0 = time.perf_counter()
            counts = client.output(job_id, "issue_counts")["data"]
            fetch = time.perf_counter() - t0
    n_rows = st["report"]["n_rows"]
    ok = counts == table["issue_counts"] and n_rows == table["n_rows"]
    latency = st["ts"] - t_submit + fetch
    return Outcome(latency, n_rows, ok, recall(counts, table["issue_counts"]))


@contextlib.contextmanager
def serving(ctx: Ctx, storage: str):
    """A started ValidationServer and a client for it. In traced runs the
    engine the job runner calls is wrapped, so RUNNING → FINISHED is a span
    (the worker thread is named after the job's Spark job group)."""
    from gbif_data_validator_spark.plans import jobs as jobs_mod
    from gbif_data_validator_spark.serving.http_server import ValidationServer

    tracer = ctx.tracer
    original = jobs_mod.ValidationEngine

    class TracedEngine(original):
        def run(self, pages, dim=None):
            with tracer.span("plans.jobs.run", trace=threading.current_thread().name):
                return super().run(pages, dim)

    if tracer.enabled:
        jobs_mod.ValidationEngine = TracedEngine
    server = ValidationServer(ctx.spark, storage).start()
    try:
        yield _Client(server.port)
    finally:
        server.stop()
        jobs_mod.ValidationEngine = original


#: jobs a batch workload's traced run pushes through the job server
SERVER_PROBE_JOBS = 2


def server_probe(ctx: Ctx, table: str) -> None:
    """Traced runs of the batch workloads: push ``table`` through the job
    server SERVER_PROBE_JOBS times, one after another, so the serving
    layer's spans exist on every workload."""
    with serving(ctx, os.path.join(ctx.run_dir, "probe-status")) as client:
        for n in range(SERVER_PROBE_JOBS):
            out = _one_job(ctx, client, {"path": table, "n_rows": None, "issue_counts": {}}, n)
            if out.n_rows == 0:
                raise RuntimeError("job-server probe job did not finish")


def _in_threads(n: int, fn) -> list:
    """``fn(k)`` for k in range(n), one client thread each; the first
    error is re-raised here."""
    results, errors = [None] * n, []

    def body(k: int) -> None:
        try:
            results[k] = fn(k)
        except Exception as e:  # re-raised in the calling thread below
            errors.append(e)

    threads = [threading.Thread(target=body, args=(k,), name=f"client-{k}") for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


#: warm-up rounds (one job per client) after jobserver_small's set-up
#: repetitions
WARMUP_ROUNDS = 5


def jobserver_small(ctx: Ctx) -> dict:
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    s = ctx.sizes
    clients = min(s.clients, nproc())
    base = os.path.join(ctx.run_dir, "jobserver")
    storage = os.path.join(base, "status")
    tables: list[dict] = []
    tracer = ctx.tracer

    with serving(ctx, storage) as client:

        def rep(r: int) -> None:
            with tracer.span("sources.synthetic.write"):
                path = write_pages(_synth(ctx.spark, s.job_rows, 1),
                                   os.path.join(base, f"table_{r}"), ctx.seed, r)
            oracle = ValidationEngine(ctx.spark, EngineConfig()).run(_read(ctx.spark, path))
            table = {"path": path, "n_rows": oracle.n_rows, "issue_counts": oracle.issue_counts}
            tables.append(table)
            warm = _in_threads(clients, lambda k: _one_job(ctx, client, table, -10 * r - k - 1))
            if not all(o.ok for o in warm):
                raise RuntimeError("warm-up job disagrees with its oracle")

        setup = _setup_reps(ctx, rep)
        # one-off tail: warm-up rounds; job latency keeps falling for the
        # first ~20 engine runs in a fresh JVM (JIT), then levels off
        t0 = time.perf_counter()
        for w in range(WARMUP_ROUNDS):
            warm = _in_threads(clients, lambda k: _one_job(
                ctx, client, tables[w % len(tables)], -100 - w * clients - k))
            if not all(o.ok for o in warm):
                raise RuntimeError("warm-up job disagrees with its oracle")
        tail = time.perf_counter() - t0
        before = tree_size(storage)[0]
        read0 = jvm_bytes_read(ctx.spark) if tracer.enabled else 0
        measure_start = time.time()
        outcomes: list[Outcome] = []
        lock = threading.Lock()
        counter = iter(range(1 << 30))
        t_start = time.perf_counter()

        def client_loop(_k: int) -> None:
            while time.perf_counter() - t_start < ctx.seconds:
                with lock:
                    n = next(counter)
                out = _one_job(ctx, client, tables[n % len(tables)], n)
                with lock:
                    outcomes.append(out)

        _in_threads(clients, client_loop)
        elapsed = time.perf_counter() - t_start
        written = tree_size(storage)[0] - before
        read = jvm_bytes_read(ctx.spark) - read0 if tracer.enabled else 0
    docs = sum(o.n_rows for o in outcomes) or 1
    for o in outcomes:
        o.bytes_written = written * o.n_rows / docs
    # jobs overlap, so each is charged the window's mean JVM reads
    runs = [
        {"group": sp["trace"], "window": (sp["start"], sp["end"]), "n_rows": s.job_rows,
         "read_bytes": read / max(len(outcomes), 1)}
        for sp in tracer.spans
        if sp["name"] == "plans.jobs.run" and sp["start"] >= measure_start
    ]
    return {"setup": setup, "setup_tail": tail, "outcomes": outcomes, "runs": runs,
            "elapsed": elapsed,
            "measure_start": measure_start, "probe_table": tables[0]["path"],
            "probe_work_dir": None, "n_buckets": 1, "served": True}


WORKLOADS = {
    "crawl_fresh": crawl_fresh,
    "crawl_incremental": crawl_incremental,
    "jobserver_small": jobserver_small,
}


def end_to_end(res: dict, session_s: float, peak_rss_mb: float) -> dict:
    """End-to-end metrics from a workload's outcomes (see README.md)."""
    outs: list[Outcome] = res["outcomes"]
    lat = [o.seconds for o in outs]
    docs = sum(o.n_rows for o in outs)
    wall = res.get("elapsed", sum(lat))
    return {
        "setup_s": session_s + median(res["setup"]) + res.get("setup_tail", 0.0),
        "docs_per_s": median([o.n_rows / o.seconds for o in outs if o.seconds > 0]),
        "job_latency_s": median(lat),
        "job_latency_p90_s": p90(lat),
        "jobs_per_s": len(outs) / wall,
        "peak_rss_mb": peak_rss_mb,
        "bytes_written_per_doc": sum(o.bytes_written for o in outs) / max(docs, 1),
        "violation_recall": min(o.recall for o in outs),
    }
