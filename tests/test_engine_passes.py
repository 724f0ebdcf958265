"""The run's pass layout: the profile pass runs beside the violations pass
under the caller's job group, and the report is one query. Job budget,
error propagation from either pass, the report query against the
two-query report it replaced, drift verdicts made on the driver, and the
referential check over a constant code set."""

import datetime as dt
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import gbif_data_validator_spark.plans.engine as eng
from gbif_data_validator_spark.model import CheckId
from gbif_data_validator_spark.operators.metrics import (
    issue_counts_by_partition,
    violation_report,
)
from gbif_data_validator_spark.operators.record_checks import run_record_checks
from gbif_data_validator_spark.operators.sampling import distinct_first_samples
from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
from gbif_data_validator_spark.sources.synthetic import synth_pages

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, group) -> dict[int, str]:
    st = spark.sparkContext.statusTracker()
    return {j: st.getJobInfo(j).status for j in st.getJobIdsForGroup(group)}


def _small_pages(spark, n=60):
    rows = [
        (f"https://ex.org/{i}", dt.datetime(2024, 1 + i % 3, 1 + i % 28), None, "hello", "en")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_default_run_job_budget(spark, tmp_path):
    """A default run starts at most 6 Spark jobs: the profile rollup and
    the violations report (record checks ∪ uniqueness, one Exchange)."""
    path = str(tmp_path / "p")
    synth_pages(spark, 300, with_violations=True).drop("expected_issue").write.parquet(path)
    pages = spark.read.parquet(path)
    rep = _in_group(
        spark, "passes-budget", lambda: ValidationEngine(spark, EngineConfig()).run(pages)
    )
    assert rep.n_rows == 300 and rep.issue_counts
    jobs = _jobs(spark, "passes-budget")
    assert 0 < len(jobs) <= 6, jobs


def test_work_dir_run_job_budget(spark, tmp_path):
    """A fresh work_dir run (``n_buckets=4``) starts at most 9 Spark jobs
    and an incremental run over an appended month at most 11: each window's
    state (profile and drift sketch) rides on its checkpoint row, so a run
    reads the one lineage table once and appends one file to it."""
    old_path, both_path = str(tmp_path / "old"), str(tmp_path / "both")
    old = synth_pages(spark, 300, with_violations=True).drop("expected_issue")
    old.write.parquet(old_path)
    month = old.limit(60).select(
        F.concat(F.lit("https://m2025-01."), F.col("url")).alias("url"),
        F.when(F.col("warc_ts").isNotNull(), F.timestamp_seconds(F.lit(1735700000))).alias(
            "warc_ts"
        ),
        "html",
        "text",
        "lang",
    )
    old.unionByName(month).write.parquet(both_path)
    first, both = spark.read.parquet(old_path), spark.read.parquet(both_path)
    wd = str(tmp_path / "w")
    ck_files = []
    for run_id, pages, budget, extra in (
        ("A", first, 9, {}),
        ("B", both, 11, {"baseline_run_id": "A"}),
    ):
        cfg = EngineConfig(work_dir=wd, n_buckets=4, run_id=run_id, **extra)
        group = f"work-dir-budget-{run_id}"
        rep = _in_group(spark, group, lambda: ValidationEngine(spark, cfg).run(pages))
        assert rep.issue_counts
        jobs = _jobs(spark, group)
        assert 0 < len(jobs) <= budget, (run_id, jobs)
        ck_files.append(len(list((tmp_path / "w" / "checkpoint").glob("*.parquet"))))
    assert ck_files == [1, 2]
    assert not (tmp_path / "w" / "profiles").exists()


def test_default_run_py4j_budget(spark, tmp_path, monkeypatch):
    """A default run builds its two queries in at most 600 py4j commands
    (object-release messages not counted): the constant expression
    batteries are parsed SQL text, not Column-API calls (~3,400 before)."""
    path = str(tmp_path / "p")
    synth_pages(spark, 300, with_violations=True).drop("expected_issue").write.parquet(path)
    pages = spark.read.parquet(path)
    engine = ValidationEngine(spark, EngineConfig())
    engine.run(pages)  # the first run also creates the UDFs' JVM objects
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *a, **k):
        if not command.startswith("m\n"):
            sent.append(command[:1])
        return send(command, *a, **k)

    monkeypatch.setattr(client, "send_command", counting)
    rep = engine.run(pages)
    monkeypatch.undo()
    assert rep.n_rows == 300 and rep.issue_counts
    assert 0 < len(sent) <= 600, len(sent)


def test_profile_failure_reraises_from_run(spark, monkeypatch):
    """An error in the profile thread re-raises from run(); the profile job
    ran under the caller's job group, and no job of the group is still
    running when run() has raised."""

    @F.pandas_udf("long")
    def slow_fail(v: pd.Series) -> pd.Series:
        time.sleep(2)
        raise ValueError("profile boom")

    def failing_profile(df, *a, **k):
        return df.select(slow_fail(F.length("url")).alias("x"))

    monkeypatch.setattr(eng, "partitioned_profile", failing_profile)
    pages = _small_pages(spark)
    with pytest.raises(Exception, match="profile boom"):
        _in_group(
            spark,
            "passes-profile-failure",
            lambda: ValidationEngine(spark, EngineConfig(check_extraction=False)).run(pages),
        )
    jobs = _jobs(spark, "passes-profile-failure")
    assert "FAILED" in jobs.values()
    assert "RUNNING" not in jobs.values()


def test_violations_failure_waits_for_the_profile(spark, monkeypatch):
    """An error in the violations pass re-raises from run() only after the
    concurrent profile job has ended."""

    @F.pandas_udf("long")
    def slow(v: pd.Series) -> pd.Series:
        time.sleep(3)
        return v

    def slow_profile(df, *a, **k):
        return df.select(slow(F.length("url")).alias("x"))

    def failing_report(*a, **k):
        raise RuntimeError("report boom")

    monkeypatch.setattr(eng, "partitioned_profile", slow_profile)
    monkeypatch.setattr(eng, "violation_report", failing_report)
    pages = _small_pages(spark)
    with pytest.raises(RuntimeError, match="report boom"):
        _in_group(
            spark,
            "passes-violations-failure",
            lambda: ValidationEngine(spark, EngineConfig(check_extraction=False)).run(pages),
        )
    jobs = _jobs(spark, "passes-violations-failure")
    assert "SUCCEEDED" in jobs.values()
    assert "RUNNING" not in jobs.values()


def _adversarial_violations(spark):
    """Null urls and founds, more rows per check than max_samples, input
    keys repeated across urls, 40 partition ids, 16 input partitions."""
    rows = []
    for i in range(600):
        check = ("A", "B", "C")[i % 3]
        url = None if i % 11 == 0 else f"u{i % 257:03d}"
        found = None if i % 7 == 0 else f"f{i % 5}"
        related = {"k": f"r{i % 2}"}
        rows.append((url, check, f"exp-{check}", found, related, f"p{i % 40:02d}"))
    rows.append(("solo", "D", "exp-D", "x", {}, None))
    return spark.createDataFrame(
        rows,
        "url string, check_id string, expected string, found string, "
        "related_data map<string,string>, partition_id string",
    ).repartition(16)


@pytest.mark.parametrize("max_samples", [1, 4, 10])
def test_report_query_matches_two_query_report(spark, max_samples):
    v = _adversarial_violations(spark)
    rows = violation_report(v, max_samples).collect()
    counts = {(r.partition_id, r.check_id): r.n for r in rows if r.n is not None}
    want_counts = {
        (r.partition_id, r.check_id): r.n for r in issue_counts_by_partition(v).collect()
    }
    assert counts == want_counts
    samples = sorted(
        (r.check_id, r.sample_rank, r.url, r.expected, r.found)
        for r in rows
        if r.sample_rank <= max_samples
    )
    want_samples = sorted(
        (r.check_id, r.sample_rank, r.url, r.expected, r.found)
        for r in distinct_first_samples(v, max_samples).collect()
    )
    assert samples == want_samples
    # one row per cell plus at most max_samples per check reach the driver
    assert len(rows) <= len(want_counts) + 4 * max_samples


def test_report_and_samples_plan_one_exchange(spark):
    v = _adversarial_violations(spark)
    for df in (violation_report(v, 10), distinct_first_samples(v, 10)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(check_id#" in plan, plan


def _drift_pages(spark):
    """Four steady months and two whose text lengths jump: two drifted
    windows."""
    months = {1: (120, 50), 2: (120, 50), 3: (120, 50), 4: (120, 50), 5: (40, 500), 6: (40, 900)}
    rows = [
        (f"https://ex.org/{m}/{i}", dt.datetime(2024, m, 1 + i % 28), None, "x" * (base + i % 25), "en")
        for m, (n, base) in months.items()
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


DRIFT_COUNTS = {CheckId.DRIFT_WINDOW: 2}
DRIFT_SAMPLES = {
    CheckId.DRIFT_WINDOW: [
        {"url": "window:2024-05", "expected": "ks_stat <= threshold", "found": "0.8500"}
    ]
}


def _drift_report(spark, **cfg):
    return ValidationEngine(
        spark, EngineConfig(check_extraction=False, max_samples=1, **cfg)
    ).run(_drift_pages(spark))


def test_drifted_windows_in_memory_make_no_dataframe(spark, monkeypatch):
    """Drift verdicts are added to the report on the driver: the in-memory
    run builds no DataFrame from local rows."""
    pages = _drift_pages(spark)

    def boom(*a, **k):
        raise AssertionError("createDataFrame on the no-work_dir path")

    monkeypatch.setattr(SparkSession, "createDataFrame", boom)
    rep = ValidationEngine(
        spark, EngineConfig(check_extraction=False, max_samples=1)
    ).run(pages)
    assert rep.issue_counts == DRIFT_COUNTS
    assert rep.samples == DRIFT_SAMPLES
    assert rep.partition_verdicts["2024-05"] == rep.partition_verdicts["2024-06"] == "PASS"


def test_drifted_windows_work_dir_resume_and_replay(spark, tmp_path):
    """With a work_dir, drift rows land in violations/ after the report.
    A resume re-reads them (its global passes are checkpointed); a replay
    of a run that lost its checkpoints derives them again and counts each
    window once."""
    wd = str(tmp_path / "w")
    first = _drift_report(spark, work_dir=wd, run_id="D")
    assert first.issue_counts == DRIFT_COUNTS
    assert first.samples == DRIFT_SAMPLES
    stored = (
        spark.read.parquet(wd + "/violations")
        .where(F.col("check_id") == CheckId.DRIFT_WINDOW)
        .select("url", "partition_id")
        .collect()
    )
    assert sorted(tuple(r) for r in stored) == [
        ("window:2024-05", "2024-05"),
        ("window:2024-06", "2024-06"),
    ]
    resumed = _drift_report(spark, work_dir=wd, run_id="D")
    shutil.rmtree(wd + "/checkpoint")
    replayed = _drift_report(spark, work_dir=wd, run_id="D")
    resumed_again = _drift_report(spark, work_dir=wd, run_id="D")
    for rep in (resumed, replayed, resumed_again):
        assert rep.issue_counts == first.issue_counts
        assert rep.samples == first.samples
        assert rep.partition_verdicts == first.partition_verdicts
        assert rep.n_rows == first.n_rows == 560


def _lang_pages(spark):
    langs = ["en", "de", "zz", None, " ", "", "fr", "EN", "en", "zz"]
    rows = [
        (f"https://ex.org/{i}", dt.datetime(2024, 1, 1 + i), None, "hello", lang)
        for i, lang in enumerate(langs)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_caller_dim_with_duplicate_and_null_codes(spark):
    """A caller-supplied dimension DataFrame with duplicate and null codes
    flags what the broadcast left join flagged: present, non-blank codes
    outside the dimension's distinct non-null set."""
    pages = _lang_pages(spark)
    dim = spark.createDataFrame([("en",), ("en",), (None,), ("de",)], "lang string")
    rep = ValidationEngine(
        spark, EngineConfig(check_extraction=False, check_drift=False)
    ).run(pages, dim=dim)
    assert rep.issue_counts == {CheckId.LANG_UNKNOWN: 4}
    assert [(s["url"], s["found"]) for s in rep.samples[CheckId.LANG_UNKNOWN]] == [
        ("https://ex.org/2", "zz"),
        ("https://ex.org/6", "fr"),
        ("https://ex.org/7", "EN"),
        ("https://ex.org/9", "zz"),
    ]
    by_df = run_record_checks(pages, check_extraction=False, lang_dim=dim)
    by_codes = run_record_checks(
        pages, check_extraction=False, lang_dim=["en", None, "de", "en"]
    )
    assert sorted(map(tuple, by_df.select("url", "found").collect())) == sorted(
        map(tuple, by_codes.select("url", "found").collect())
    )


@pytest.mark.parametrize(
    "cfg, match",
    [
        ({"grouped_rules": True, "work_dir": True}, "requires table_rules"),
        ({"anomaly_gate": True}, "anomaly_gate requires work_dir"),
        ({"quarantine": True}, "quarantine requires work_dir"),
        ({"sample_pct": 0}, "sample_pct must be in"),
        ({"sample_pct": 10, "work_dir": True}, "incompatible with work_dir"),
    ],
)
def test_bad_config_raises_before_any_spark_job(spark, tmp_path, cfg, match):
    """An invalid combination raises before the first Spark job: the
    work_dir gets no violations, profiles or checkpoint rows that a resume
    with the same run_id would treat as done."""
    wd = tmp_path / "w"
    if cfg.get("work_dir"):
        cfg = {**cfg, "work_dir": str(wd)}
    pages = _small_pages(spark)
    group = f"bad-config-{len(cfg)}-{match}"
    with pytest.raises(ValueError, match=match):
        _in_group(
            spark,
            group,
            lambda: ValidationEngine(
                spark, EngineConfig(check_extraction=False, run_id="bad", **cfg)
            ).run(pages),
        )
    assert _jobs(spark, group) == {}
    assert not (wd / "checkpoint").exists()


@pytest.mark.parametrize(
    "cfg, match",
    [
        ({"robots_table": "x"}, "robots_table must be a DataFrame"),
        ({"manifest_table": "x"}, "manifest_table must be a DataFrame"),
        ({"custom_checks": ("x",)}, "custom_checks items must be CustomCheck"),
    ],
)
def test_object_config_fields_raise_before_any_spark_job(spark, tmp_path, cfg, match):
    """A field that must hold a DataFrame or CustomCheck objects raises
    before the first Spark job: raised by the pass that uses it, the run
    would leave checkpoint rows that a resume treats as done."""
    wd = tmp_path / "w"
    pages = _small_pages(spark)
    group = f"object-config-{match}"
    with pytest.raises(ValueError, match=match):
        _in_group(
            spark,
            group,
            lambda: ValidationEngine(
                spark,
                EngineConfig(check_extraction=False, work_dir=str(wd), run_id="o", **cfg),
            ).run(pages),
        )
    assert _jobs(spark, group) == {}
    assert not (wd / "checkpoint").exists()


#: a key column name that breaks out of an unquoted or single-quoted
#: identifier: a space, backticks and SQL keywords
HOSTILE_KEY = "key` OR true OR `x y"


def test_hostile_key_col_name(spark):
    """A ``key_col`` with a space and backticks (the HTTP server takes it
    from the client) is one quoted identifier in every parsed expression:
    the run reports exactly the blank, malformed and duplicate keys, under
    ANSI mode and with n_buckets > 1 hashing the key."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    keys = ["https://ex.org/a", "https://ex.org/a", "", None, "not a url", "https://ex.org/b"]
    rows = [
        (f"https://ex.org/{i}", dt.datetime(2024, 1, 1 + i), None, "hello", "en", k)
        for i, k in enumerate(keys)
    ]
    pages = spark.createDataFrame(rows, SCHEMA + f", `{HOSTILE_KEY.replace('`', '``')}` string")
    rep = ValidationEngine(
        spark,
        EngineConfig(key_col=HOSTILE_KEY, check_extraction=False, check_drift=False, n_buckets=2),
    ).run(pages)
    assert rep.error_code is None
    assert rep.issue_counts == {
        CheckId.KEY_EMPTY: 2,
        CheckId.URL_MALFORMED: 1,
        CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED: 1,
    }
    assert rep.samples[CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED] == [
        {"url": "https://ex.org/a", "expected": "unique url", "found": "count=2"}
    ]
    assert rep.n_rows == 6


def test_hostile_dim_codes(spark):
    """Caller codes with a quote, a backslash and non-ASCII text are string
    literals of the parsed IN list: rows carrying them are known, and a
    ``lang`` that spells an injected predicate is one unknown code."""
    dim = ["en", "it's", "a\\b", "a\\'b", "日本語", "ü"]
    langs = ["it's", "a\\b", "a\\'b", "日本語", "ü", "en", "ab", "' OR true OR '", "日本"]
    rows = [
        (f"https://ex.org/{i}", dt.datetime(2024, 1, 1 + i), None, "hello", lang)
        for i, lang in enumerate(langs)
    ]
    pages = spark.createDataFrame(rows, SCHEMA)
    rep = ValidationEngine(
        spark, EngineConfig(check_extraction=False, check_drift=False)
    ).run(pages, dim=dim)
    assert rep.issue_counts == {CheckId.LANG_UNKNOWN: 3}
    assert sorted(s["found"] for s in rep.samples[CheckId.LANG_UNKNOWN]) == sorted(
        ["ab", "' OR true OR '", "日本"]
    )
