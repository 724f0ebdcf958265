"""Incremental drift via sketch checkpointing: a window's quantile sketch is
its complete drift state, so resumed/incremental/bucketed runs derive
DRIFT_WINDOW verdicts by MERGING stored sketches — never by rescanning the
table (the last full-table rescan the round-1 engine still had)."""

import datetime as dt

import numpy as np
import pytest

from gbif_data_validator_spark.model import CheckId
from gbif_data_validator_spark.operators.drift import (
    PROBS,
    ks_statistic,
    merge_quantile_sketches,
)
from gbif_data_validator_spark.plans import checkpoint as cp
from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


# --- pure merge algebra ------------------------------------------------------


def _exact_q(data: np.ndarray) -> list[float]:
    """Exact equi-probability quantile vector (inverted-CDF method — the
    estimator percentile_approx converges to)."""
    return [float(v) for v in np.quantile(np.sort(data), PROBS, method="inverted_cdf")]


def test_merge_single_sketch_is_identity():
    """A month window of one partition (n_buckets == 1) goes through the
    same merge as a bucketed month: merging one sketch must return it
    unchanged, ties included."""
    data = np.arange(1000, dtype=float)
    q = _exact_q(data)
    n, merged = merge_quantile_sketches([(len(data), q)])
    assert n == len(data)
    assert merged == q
    rng = np.random.default_rng(7)
    for _ in range(2000):
        hi = int(rng.integers(1, 10_000))
        q = sorted(int(v) for v in rng.integers(0, hi, len(PROBS)))
        n = int(rng.integers(1, 1_000_000))
        assert merge_quantile_sketches([(n, q)]) == (n, [float(v) for v in q])


def test_merge_empty_and_null_sketches():
    assert merge_quantile_sketches([]) == (0, None)
    assert merge_quantile_sketches([(0, None), (0, None)]) == (0, None)
    q = _exact_q(np.arange(100, dtype=float))
    n, merged = merge_quantile_sketches([(100, q), (0, None)])
    assert n == 100 and merged == q


def test_merged_pooled_matches_direct_pooled():
    """Pooled-by-merge must agree with the directly-computed pooled sketch
    up to ECDF resolution (1/(N_PROBS-1) = 0.025) — the invariant that lets
    incremental runs build the drift reference without a table scan."""
    rng = np.random.default_rng(7)
    a = rng.uniform(0, 100, 4000)
    b = rng.uniform(50, 300, 2000)  # different distribution AND weight
    c = rng.normal(500, 20, 1000)
    pooled_direct = _exact_q(np.concatenate([a, b, c]))
    _, pooled_merged = merge_quantile_sketches(
        [(len(a), _exact_q(a)), (len(b), _exact_q(b)), (len(c), _exact_q(c))]
    )
    assert ks_statistic(pooled_merged, pooled_direct) <= 0.05


# --- engine integration ------------------------------------------------------


def _pages(spark, months: dict[int, tuple[int, int]]):
    """{month: (n_rows, base_len)} → pages DF; text length varies ±25 chars
    within a window, so each window has a real (non-degenerate) ECDF."""
    rows = [
        (
            f"https://ex.org/{m}/{i}",
            dt.datetime(2024, m, 1 + i % 28),
            None,
            "x" * (base + i % 25),
            "en",
        )
        for m, (n, base) in months.items()
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _no_rescan(monkeypatch):
    """Patch the engine's full-table drift scan so any call fails the test
    loudly."""

    def _boom(*a, **k):
        raise AssertionError("full-table drift rescan — sketches should cover this")

    monkeypatch.setattr(ValidationEngine, "_rescan_drift", _boom)


def test_incremental_drift_from_stored_sketches(spark, tmp_path, monkeypatch):
    """Run B (baseline A) sees month 3's drifted lengths WITHOUT rescanning
    months 1-2: their stored sketches merge into the pooled reference."""
    wd = str(tmp_path / "w")
    old = _pages(spark, {1: (120, 50), 2: (120, 50)})
    ValidationEngine(
        spark, EngineConfig(check_extraction=False, work_dir=wd, run_id="A")
    ).run(old)
    # sketches were persisted for both month windows
    stored = cp.latest_window_sketches(spark, wd + "/checkpoint")
    assert set(stored) == {"2024-01", "2024-02"}
    assert all(n == 120 and q is not None for n, q in stored.values())

    _no_rescan(monkeypatch)
    both = old.unionByName(_pages(spark, {3: (40, 500)}))
    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, work_dir=wd, run_id="B", baseline_run_id="A"
        ),
    ).run(both)
    assert rep.issue_counts.get(CheckId.DRIFT_WINDOW) == 1
    assert rep.samples[CheckId.DRIFT_WINDOW][0]["url"] == "window:2024-03"

    # and the sketch-derived verdicts equal a fresh full run's
    full = ValidationEngine(
        spark, EngineConfig(check_extraction=False)
    ).run(both)
    assert full.issue_counts.get(CheckId.DRIFT_WINDOW) == 1


def test_resume_rerun_derives_drift_from_sketches(spark, tmp_path, monkeypatch):
    """Re-running a finished run prunes every window; drift must re-derive
    from stored sketches with zero scans and an identical report."""
    wd = str(tmp_path / "w")
    pages = _pages(spark, {1: (120, 50), 2: (120, 50), 3: (40, 500)})
    cfg = EngineConfig(check_extraction=False, work_dir=wd, run_id="R")
    rep1 = ValidationEngine(spark, cfg).run(pages)
    _no_rescan(monkeypatch)
    rep2 = ValidationEngine(spark, cfg).run(pages)
    assert rep2.issue_counts == rep1.issue_counts
    assert rep1.issue_counts.get(CheckId.DRIFT_WINDOW) == 1


def test_bucketed_fresh_run_needs_no_drift_scan(spark, tmp_path, monkeypatch):
    """n_buckets > 1: per-bucket rollup sketches merge to month windows, so
    the fresh bucketed run drops its round-1 second drift scan; verdicts
    match the unbucketed run's."""
    pages = _pages(spark, {1: (120, 50), 2: (120, 50), 3: (40, 500)})
    plain = ValidationEngine(spark, EngineConfig(check_extraction=False)).run(pages)
    _no_rescan(monkeypatch)
    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, n_buckets=4,
            work_dir=str(tmp_path / "wb"), run_id="B4",
        ),
    ).run(pages)
    assert rep.issue_counts.get(CheckId.DRIFT_WINDOW) == plain.issue_counts.get(
        CheckId.DRIFT_WINDOW
    ) == 1
    assert rep.samples[CheckId.DRIFT_WINDOW][0]["url"] == "window:2024-03"


def test_legacy_work_dir_falls_back_to_full_scan(spark, tmp_path, legacy_lineage):
    """A work_dir written before its checkpoint rows carried drift sketches
    must still produce correct incremental drift — via the full windowed
    pass, not a crash or a silent skip."""
    wd = str(tmp_path / "w")
    old = _pages(spark, {1: (120, 50), 2: (120, 50)})
    ValidationEngine(
        spark, EngineConfig(check_extraction=False, work_dir=wd, run_id="A")
    ).run(old)
    legacy_lineage(wd)
    both = old.unionByName(_pages(spark, {3: (40, 500)}))
    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, work_dir=wd, run_id="B", baseline_run_id="A"
        ),
    ).run(both)
    assert rep.issue_counts.get(CheckId.DRIFT_WINDOW) == 1


# --- run-over-run PSI from persisted sketches --------------------------------


def test_psi_from_sketches_identity_shift_empty():
    from gbif_data_validator_spark.operators.drift import psi_from_sketches

    data = np.asarray([float(i % 100) for i in range(1000)])
    a = (1000, _exact_q(data))
    same = psi_from_sketches(a, a)
    assert same["psi"] == 0.0
    assert abs(sum(b["p_ref"] for b in same["buckets"]) - 1.0) < 1e-3
    # a disjoint shift: the whole mass moves -> PSI far past the 0.25 bar
    b = (1000, _exact_q(data + 500.0))
    shifted = psi_from_sketches(a, b)
    assert shifted["psi"] > 1.0
    # attribution: ref mass sits in low buckets, cur in high ones
    assert shifted["buckets"][1]["p_ref"] > shifted["buckets"][1]["p_cur"]
    # empty side -> NaN, never a silent 0
    import math

    assert math.isnan(psi_from_sketches(a, (0, None))["psi"])


def test_psi_from_sketches_tracks_exact_psi(spark):
    """Sketch-PSI stays within sketch resolution of the exact-count
    psi_drift on the same data and envelope."""
    from gbif_data_validator_spark.operators.drift import psi_drift, psi_from_sketches

    xs = [float((i * 37) % 200) for i in range(2000)]
    ys = [float(((i * 53) % 200) * 0.7 + 60.0) for i in range(2000)]
    ref = spark.createDataFrame([(v,) for v in xs], "v double")
    cur = spark.createDataFrame([(v,) for v in ys], "v double")
    exact = psi_drift(ref, cur, "v", lo=0.0, hi=200.0, n_buckets=10).collect()[0]["psi"]
    approx = psi_from_sketches(
        (2000, _exact_q(np.asarray(xs))),
        (2000, _exact_q(np.asarray(ys))),
        n_buckets=10, lo=0.0, hi=200.0,
    )["psi"]
    assert abs(approx - exact) < 0.05, (approx, exact)


def test_psi_between_runs_zero_rescan(spark, tmp_path):
    """Two engine runs in one work_dir: run-over-run PSI of the drift
    metric computed entirely from their persisted sketches — stable pair
    ~0, shifted pair past the drifted bar; unknown run raises."""
    from gbif_data_validator_spark.plans.compare import psi_between_runs

    wd = str(tmp_path / "w")
    base = dict(check_extraction=False, work_dir=wd)
    ValidationEngine(
        spark, EngineConfig(**base, run_id="A")
    ).run(_pages(spark, {1: (150, 50), 2: (150, 50)}))
    ValidationEngine(
        spark, EngineConfig(**base, run_id="B")
    ).run(_pages(spark, {1: (150, 52), 2: (150, 48)}))
    ValidationEngine(
        spark, EngineConfig(**base, run_id="C")
    ).run(_pages(spark, {1: (150, 500), 2: (150, 520)}))

    stable = psi_between_runs(spark, wd, "A", "B")
    assert stable["psi"] < 0.1
    assert stable["run_ref"] == "A" and stable["run_cur"] == "B"
    assert stable["n_ref"] == 300 and stable["n_cur"] == 300
    drifted = psi_between_runs(spark, wd, "A", "C")
    assert drifted["psi"] > 0.25

    with pytest.raises(ValueError, match="no persisted drift sketch"):
        psi_between_runs(spark, wd, "A", "NOPE")
