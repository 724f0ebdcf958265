"""Star-schema validation: golden assertions mirroring the reference's
ReferentialIntegrityEvaluatorTest (unlinked extension id is exactly "ZZ"
:51; empty ids found on both sides :76-81)."""

import pytest
from pyspark.sql import functions as F

from gbif_data_validator_spark.model import BLOCKING_CHECKS, CheckId
from gbif_data_validator_spark.plans.star import validate_star


def _tbl(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_golden_unlinked_extension_id(spark):
    core = _tbl(spark, [("i1", "x"), ("i2", "y"), ("i3", "z")], "id string, v string")
    ext = _tbl(
        spark,
        [("i1", "a"), ("i2", "b"), ("ZZ", "c"), ("i1", "d")],
        "core_id string, w string",
    )
    v = validate_star(core, {"identification": (ext, "core_id")}, core_key="id")
    rows = v.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.url == "ZZ" and r.found == "ZZ"
    assert r.check_id == CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION
    assert r.partition_id == "ext:identification"
    assert r.check_id in BLOCKING_CHECKS  # IndexableRules.java:29


def test_empty_ids_found_on_both_sides(spark):
    core = _tbl(spark, [("i1", "x"), ("", "y"), (None, "z")], "id string, v string")
    ext = _tbl(spark, [("i1", "a"), (" ", "b")], "core_id string, w string")
    v = validate_star(core, {"ident": (ext, "core_id")}, core_key="id")
    got = {(r.partition_id, r.check_id) for r in v.collect()}
    # two empty core ids + one blank ext id; NO referential violation for
    # them (blank keys are excluded from the anti-join, like awk's hash skip)
    by_part = {}
    for r in v.collect():
        by_part.setdefault(r.partition_id, []).append(r.check_id)
    assert by_part["core"] == [CheckId.KEY_EMPTY] * 2
    assert by_part["ext:ident"] == [CheckId.KEY_EMPTY]
    assert ("ext:ident", CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION) not in got


def test_multi_extension_star_and_broadcast_toggle(spark):
    core = _tbl(spark, [("c1",), ("c2",)], "id string")
    e1 = _tbl(spark, [("c1",), ("zz",)], "fk string")
    e2 = _tbl(spark, [("c2",), ("c2",), ("qq",)], "fk string")
    for bc in (False, True):
        v = validate_star(
            core, {"a": (e1, "fk"), "b": (e2, "fk")}, core_key="id", broadcast_core=bc
        )
        got = {(r.partition_id, r.url) for r in v.collect()}
        assert got == {("ext:a", "zz"), ("ext:b", "qq")}
    # forced broadcast shows up in the plan
    plan = (
        validate_star(core, {"a": (e1, "fk")}, core_key="id", broadcast_core=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_star_composes_with_engine_accounting(spark):
    """The star plan's violations feed the engine's accounting artifacts
    unchanged: per-table (RowTypeKey-style) counts, distinct-first samples,
    and the blocking-set verdict — the ValidationResultElement-per-rowType
    report shape of the reference."""
    from gbif_data_validator_spark.operators.metrics import issue_counts_by_partition
    from gbif_data_validator_spark.operators.sampling import distinct_first_samples

    core = _tbl(spark, [("i1",), ("i2",), ("",)], "id string")
    e1 = _tbl(spark, [("i1",), ("ZZ",), ("YY",)], "fk string")
    v = validate_star(core, {"ident": (e1, "fk")}, core_key="id").cache()

    counts = {
        (r.partition_id, r.check_id): r.n for r in issue_counts_by_partition(v).collect()
    }
    assert counts == {
        ("core", CheckId.KEY_EMPTY): 1,
        ("ext:ident", CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION): 2,
    }
    samples = distinct_first_samples(v, 10).collect()
    assert {r.url for r in samples if r.check_id
            == CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION} == {"ZZ", "YY"}
    # blocking-set verdict per table (IndexableRules reduce)
    verdicts = {
        pid: ("FAIL" if any(c in BLOCKING_CHECKS for (p, c) in counts if p == pid)
              else "PASS")
        for pid in {p for (p, _) in counts}
    }
    assert verdicts == {"core": "FAIL", "ext:ident": "FAIL"}
    v.unpersist()


def test_run_star_per_table_report(spark, pages_path):
    """Engine-level star run: full battery on the core + per-extension
    referential, with per-table verdicts in one report."""
    from pyspark.sql import functions as F

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    core = spark.read.parquet(pages_path).drop("expected_issue")
    # extension: one row per clean core url + two orphans
    ext = (
        core.where(F.col("url").isNotNull() & (F.col("url") != "")).select(
            F.col("url").alias("page_url")
        ).limit(50)
        .unionByName(
            spark.createDataFrame([("https://nope.example/x",), ("https://nope.example/y",)],
                                  schema="page_url string")
        )
    )
    eng = ValidationEngine(spark, EngineConfig(check_extraction=False))
    report = eng.run_star(core, {"links": (ext, "page_url")})
    assert report.issue_counts[CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION] == 2
    assert report.partition_verdicts["ext:links"] == "FAIL"
    assert report.metrics["table_rows"]["ext:links"] == 52
    assert not report.indexable
    # core battery still ran (fixture has injected violations)
    assert CheckId.URL_MALFORMED in report.issue_counts


def test_run_star_core_verdict_reflects_core_findings(spark):
    """A failing core (duplicate urls → blocking) must show core: FAIL in
    the per-table verdict list, even though its findings carry
    warc_ts-window/GLOBAL partition ids."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    core = spark.createDataFrame(
        [("https://a.example/x", dt.datetime(2024, 1, 1), None, "t", "en")] * 2
        + [("https://a.example/y", dt.datetime(2024, 1, 1), None, "t", "en")],
        schema,
    )
    ext = spark.createDataFrame([("https://a.example/y",)], "fk string")
    report = ValidationEngine(spark, EngineConfig(check_extraction=False)).run_star(
        core, {"links": (ext, "fk")}
    )
    assert report.partition_verdicts["core"] == "FAIL"
    assert report.partition_verdicts["ext:links"] == "PASS"


def test_run_star_counts_empty_core_key_once(spark):
    """The core's record checks already flag an empty key: run_star adds
    no second core empty-key scan, so one empty url is one KEY_EMPTY."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    ts = dt.datetime(2024, 1, 1)
    core = spark.createDataFrame(
        [("https://a.example/x", ts, None, "t", "en"), ("", ts, None, "t", "en")],
        schema,
    )
    ext = spark.createDataFrame([("https://a.example/x",)], "fk string")
    eng = ValidationEngine(spark, EngineConfig(check_extraction=False))
    star = eng.run_star(core, {"links": (ext, "fk")})
    assert star.issue_counts[CheckId.KEY_EMPTY] == 1
    assert star.issue_counts == eng.run(core).issue_counts
    assert star.partition_verdicts["core"] == "FAIL"
    assert star.partition_verdicts["ext:links"] == "PASS"
    assert star.metrics["table_rows"] == {"core": 2, "ext:links": 1}


def test_run_star_is_run_plus_extension_findings(spark, pages_path):
    """Every run_star count is run(core)'s count plus the extension
    findings of that check id; the core's profile metrics come along."""
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
    from gbif_data_validator_spark.plans.star import extension_violations

    core = spark.read.parquet(pages_path).drop("expected_issue")
    clean = core.where(F.col("url").isNotNull() & (F.col("url") != ""))
    links = clean.select(F.col("url").alias("page_url")).limit(40).unionByName(
        spark.createDataFrame(
            [("https://nope.example/x",), ("",), (None,)], "page_url string"
        )
    )
    hosts = clean.select(F.col("url").alias("fk")).limit(5)
    exts = {"links": (links, "page_url"), "hosts": (hosts, "fk")}
    eng = ValidationEngine(spark, EngineConfig(check_extraction=False))
    star = eng.run_star(core, exts)
    plain = eng.run(core)
    ext_counts = {
        r.check_id: r.n
        for r in extension_violations(core, exts, "url")
        .groupBy("check_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert ext_counts == {
        CheckId.KEY_EMPTY: 2,
        CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION: 1,
    }
    for check in set(star.issue_counts) | set(plain.issue_counts) | set(ext_counts):
        assert star.issue_counts.get(check, 0) == (
            plain.issue_counts.get(check, 0) + ext_counts.get(check, 0)
        ), check
    assert star.n_rows == plain.n_rows
    assert star.metrics["table_rows"] == {
        "core": plain.n_rows, "ext:links": 43, "ext:hosts": 5,
    }
    assert {k: v for k, v in star.metrics.items() if k != "table_rows"} == plain.metrics
    core_fail = any(v == "FAIL" for v in plain.partition_verdicts.values())
    assert star.partition_verdicts == {
        **plain.partition_verdicts,
        "core": "FAIL" if core_fail else "PASS",
        "ext:links": "FAIL",
        "ext:hosts": "PASS",
    }


@pytest.mark.parametrize(
    "cfg", [{"work_dir": "w"}, {"sample_pct": 10}, {"sample_pct": 0}]
)
def test_run_star_rejects_work_dir_and_sample_pct_before_any_job(spark, tmp_path, cfg):
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    if "work_dir" in cfg:
        cfg = {"work_dir": str(tmp_path / cfg["work_dir"])}
    core = _tbl(spark, [("https://a.example/x",)], "url string")
    ext = _tbl(spark, [("https://a.example/x",)], "fk string")
    sc = spark.sparkContext
    sc.setJobGroup("star-config", "star-config")
    try:
        with pytest.raises(ValueError, match="run_star supports neither"):
            ValidationEngine(spark, EngineConfig(**cfg)).run_star(
                core, {"x": (ext, "fk")}
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("star-config")) == []
    assert not (tmp_path / "w").exists()
