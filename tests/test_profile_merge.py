"""Incremental whole-table profile via mergeable per-window state: exact
additive counts, HLL-union distincts, weighted-ECDF length quantiles — an
incremental run reports full-table metrics without rescanning validated
history (round 1 could only report the delta, labeled incremental_delta)."""

import datetime as dt

from gbif_data_validator_spark.plans import checkpoint as cp
from gbif_data_validator_spark.plans.engine import (
    EngineConfig,
    ValidationEngine,
    _merge_profile_states,
)

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _pages(spark, months: dict[int, int], null_lang_every: int = 0):
    rows = []
    for m, n in months.items():
        for i in range(n):
            rows.append(
                (
                    f"https://ex.org/{m}/{i}",
                    dt.datetime(2024, m, 1 + i % 28),
                    None,
                    "x" * (40 + (m * 13 + i) % 60),
                    None if null_lang_every and i % null_lang_every == 0 else "en",
                )
            )
    return spark.createDataFrame(rows, SCHEMA)


# --- pure merge arithmetic ---------------------------------------------------


def test_merge_profile_states_counts_and_lengths():
    a = {
        "n_rows": 10,
        "counts": {"url_non_blank": 10, "text_nulls": 2},
        "hlls": {},
        "len_q": {"text": [0.0, 5.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0]},
        "len_avg": {"text": 8.0},
    }
    b = {
        "n_rows": 30,
        "counts": {"url_non_blank": 29, "text_nulls": 0},
        "hlls": {},
        "len_q": {"text": [20.0, 20.0, 20.0, 20.0, 20.0, 20.0, 20.0, 20.0, 20.0, 20.0, 20.0]},
        "len_avg": {"text": 20.0},
    }
    m = _merge_profile_states([a, b])
    assert m["n_rows"] == 40
    assert m["url_non_blank"] == 39
    assert m["text_nulls"] == 2
    # weights: 8 non-null lengths in a, 30 in b → avg = (8*8 + 30*20)/38
    assert abs(m["text_len_avg"] - (8 * 8.0 + 30 * 20.0) / 38) < 1e-9
    # ~21% of mass at <=10, rest at 20 → median and max from b's constant 20
    assert m["text_len_quantiles"][-1] == 20.0
    assert m["text_len_quantiles"][5] == 20.0
    assert m["text_len_quantiles"][0] == 0.0


# --- engine integration ------------------------------------------------------


def test_incremental_run_reports_whole_table_profile(spark, tmp_path):
    wd = str(tmp_path / "w")
    old = _pages(spark, {1: 120, 2: 120}, null_lang_every=10)
    ValidationEngine(
        spark, EngineConfig(check_extraction=False, work_dir=wd, run_id="A")
    ).run(old)
    assert set(cp.latest_window_profiles(spark, wd + "/checkpoint")) == {
        "2024-01",
        "2024-02",
    }

    both = old.unionByName(_pages(spark, {3: 60}, null_lang_every=10))
    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, work_dir=wd, run_id="B", baseline_run_id="A"
        ),
    ).run(both)
    m = rep.metrics
    assert m["_scope"] == "full_table_merged"
    # exact stats are exactly right for the WHOLE table
    assert m["n_rows"] == 300
    assert m["lang_nulls"] == 12 + 12 + 6
    assert m["url_non_blank"] == 300
    # HLL-union distinct within sketch tolerance of the true cardinality
    assert abs(m["url_approx_distinct"] - 300) / 300 < 0.05
    # merged length stats close to the direct full-run profile
    full = ValidationEngine(spark, EngineConfig(check_extraction=False)).run(both)
    assert abs(m["text_len_avg"] - full.metrics["text_len_avg"]) < 2.0
    assert m["text_len_quantiles"][0] == full.metrics["text_len_quantiles"][0]
    assert m["text_len_quantiles"][-1] == full.metrics["text_len_quantiles"][-1]


def test_rerun_noop_profile_is_merged_not_empty(spark, tmp_path):
    """Re-running a finished run prunes everything; the profile must come
    back whole from stored state, byte-for-byte on the exact stats."""
    wd = str(tmp_path / "w")
    pages = _pages(spark, {1: 120, 2: 120}, null_lang_every=10)
    cfg = EngineConfig(check_extraction=False, work_dir=wd, run_id="R")
    rep1 = ValidationEngine(spark, cfg).run(pages)
    rep2 = ValidationEngine(spark, cfg).run(pages)
    assert rep2.metrics["_scope"] == "full_table_merged"
    for k in ("n_rows", "lang_nulls", "url_non_blank", "text_non_blank"):
        assert rep2.metrics[k] == rep1.metrics[k], k


def test_legacy_work_dir_degrades_to_delta_scope(spark, tmp_path, legacy_lineage):
    wd = str(tmp_path / "w")
    old = _pages(spark, {1: 120})
    ValidationEngine(
        spark, EngineConfig(check_extraction=False, work_dir=wd, run_id="A")
    ).run(old)
    legacy_lineage(wd)
    both = old.unionByName(_pages(spark, {3: 60}))
    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, work_dir=wd, run_id="B", baseline_run_id="A"
        ),
    ).run(both)
    assert rep.metrics["_scope"] == "incremental_delta"
    assert rep.metrics["n_rows"] == 60  # the delta, honestly labeled
    assert rep.n_rows == 180  # while the report still covers the table
