"""One definition per verdict: table rules are decided by the shared
Column projector (``rule_verdict_structs``) whichever face asks —
``verify_constraints``, ``verify_constraints_by`` or the engine's
``table_rules``/``grouped_rules`` — and every engine drift verdict comes
from quantile sketches, including on a work_dir whose stored sketches are
missing."""

import datetime as dt

from pyspark.sql import functions as F

from gbif_data_validator_spark.model import CheckId
from gbif_data_validator_spark.operators.constraints import (
    verify_constraints,
    verify_constraints_by,
)
from gbif_data_validator_spark.operators.record_checks import partition_id_col
from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

QUIET = dict(
    check_extraction=False,
    check_drift=False,
    check_uniqueness=False,
    check_referential=False,
)


def test_completeness_tie_agrees_across_faces(spark):
    """1 non-null of 128 is 0.0078125: Spark ``round`` (HALF_UP) gives
    0.007813, which meets a 0.007813 floor on every face."""
    rows = [
        (f"https://ex.org/{i}", dt.datetime(2024, 1, 1 + i % 28), None, "t",
         "en" if i == 0 else None)
        for i in range(128)
    ]
    pages = spark.createDataFrame(rows, SCHEMA)
    rule = ("lang", "COMPLETENESS_GE", "0.007813")

    table = verify_constraints(pages, [rule]).collect()
    grouped = verify_constraints_by(
        pages.withColumn("g", F.lit(1)), [rule], ["g"]
    ).collect()
    flat = ValidationEngine(spark, EngineConfig(**QUIET, table_rules=(rule,))).run(pages)
    both = ValidationEngine(
        spark, EngineConfig(**QUIET, table_rules=(rule,), grouped_rules=True)
    ).run(pages)

    assert [r["passed"] for r in table] == [True]
    assert [r["passed"] for r in grouped] == [True]
    assert [r["passed"] for r in flat.metrics["table_rules"]] == [True]
    assert [r["passed"] for r in both.metrics["table_rules"]] == [True]
    g = both.metrics["grouped_rules"]
    assert (g["n_groups"], g["n_verdicts"], g["n_failed"]) == (1, 1, 0)


def _count_rule_scans(monkeypatch, cls) -> list[int]:
    """While the engine's rule pass runs, record how many parquet scans the
    physical plan of each collect of a ``cls`` DataFrame holds (``first()``
    collects too)."""
    scans: list[int] = []
    collect, rules_summary = cls.collect, ValidationEngine._rules_summary

    def counting(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans.append(plan.count("FileScan parquet"))
        return collect(df)

    def rule_pass(self, pages):
        monkeypatch.setattr(cls, "collect", counting)
        try:
            return rules_summary(self, pages)
        finally:
            monkeypatch.setattr(cls, "collect", collect)

    monkeypatch.setattr(ValidationEngine, "_rules_summary", rule_pass)
    return scans


def test_grouped_rules_equal_standalone_faces_from_one_scan(spark, tmp_path, monkeypatch):
    """A mixed battery over three windows: the engine's table and
    per-window verdicts equal the standalone functions', and the rule pass
    reads ``pages`` once (the grand row of one rollup is the table)."""
    rows = []
    for m in (1, 2, 3):
        for i in range(40):
            url = f"https://ex.org/{m}/{i % 38 if m == 2 else i}"  # Feb dups
            lang = None if (m == 3 and i % 2) else ("en" if i % 5 else "fr")
            rows.append((url, dt.datetime(2024, m, 1 + i % 28), None,
                         "t", lang, 10 * m + i % 7))
    path = str(tmp_path / "p")
    spark.createDataFrame(rows, SCHEMA + ", size int").write.parquet(path)
    pages = spark.read.parquet(path)
    rules = [
        ("url", "UNIQUE", ""),
        ("size", "QUANTILE_BETWEEN", "0.5:0..25"),
        ("lang", "COMPLETENESS_GE", "0.8"),
        ("lang", "IN_SET", "en"),
    ]
    want_table = [r.asDict() for r in verify_constraints(pages, rules).collect()]
    by_window = verify_constraints_by(
        pages.withColumn("_partition_id", partition_id_col(F.col("warc_ts"))),
        rules,
        ["_partition_id"],
    ).collect()
    want_failed = sorted(
        (
            {"partition_id": r["_partition_id"], "column": r["column"],
             "constraint": r["constraint"], "detail": r["detail"],
             "n_violations": r["n_violations"]}
            for r in by_window
            if not r["passed"]
        ),
        key=lambda d: (d["partition_id"], d["column"], d["constraint"]),
    )
    assert want_failed and not all(r["passed"] for r in want_table)

    scans = _count_rule_scans(monkeypatch, type(pages))
    rep = ValidationEngine(
        spark, EngineConfig(**QUIET, table_rules=tuple(rules), grouped_rules=True)
    ).run(pages)
    assert scans == [1]

    assert rep.metrics["table_rules"] == want_table
    g = rep.metrics["grouped_rules"]
    assert g["failures"] == want_failed
    assert g["n_failed"] == len(want_failed)
    assert g["n_groups"] == 3 and g["n_verdicts"] == 3 * len(rules)


def _month_pages(spark, months: dict[int, tuple[int, int, int]]):
    """{month: (n_rows, base_len, n_null_text)} → pages; the first
    n_null_text rows of a month have no text."""
    rows = [
        (
            f"https://ex.org/{m}/{i}",
            dt.datetime(2024, m, 1 + i % 28),
            None,
            None if i < n_null else "x" * (base + i % 25),
            "en",
        )
        for m, (n, base, n_null) in months.items()
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_missing_sketches_drift_equals_fresh_run(spark, tmp_path, legacy_lineage):
    """A work_dir whose checkpoint rows carry no drift sketch (the layout
    written before they did) makes the engine sketch the whole
    table. Its verdicts are a fresh run's: a 40-row month with 14 null
    texts has 26 drift rows, fewer than the 30 a window needs."""
    wd = str(tmp_path / "w")
    cfg = dict(check_extraction=False, work_dir=wd)
    old = _month_pages(spark, {1: (120, 50, 0), 2: (120, 50, 0)})
    ValidationEngine(spark, EngineConfig(**cfg, run_id="A")).run(old)
    legacy_lineage(wd)

    both = old.unionByName(_month_pages(spark, {3: (40, 500, 14)}))
    inc = ValidationEngine(
        spark, EngineConfig(**cfg, run_id="B", baseline_run_id="A")
    ).run(both)
    fresh = ValidationEngine(spark, EngineConfig(check_extraction=False)).run(both)

    assert inc.issue_counts.get(CheckId.DRIFT_WINDOW) == fresh.issue_counts.get(
        CheckId.DRIFT_WINDOW
    )
    assert inc.issue_counts == fresh.issue_counts
    assert inc.samples.get(CheckId.DRIFT_WINDOW) == fresh.samples.get(
        CheckId.DRIFT_WINDOW
    )


def test_missing_sketches_rescan_reads_warc_ts_and_text_only(
    spark, tmp_path, monkeypatch, legacy_lineage
):
    """The legacy-work_dir drift rescan profiles no column: its rollup
    reads ``warc_ts`` and ``text`` from storage and yields only the row
    count and the drift sketch."""
    import re

    import gbif_data_validator_spark.plans.engine as eng

    wd = str(tmp_path / "w")
    cfg = dict(check_extraction=False, work_dir=wd)
    old_path, both_path = str(tmp_path / "old"), str(tmp_path / "both")
    old = _month_pages(spark, {1: (120, 50, 0), 2: (120, 50, 0)})
    old.write.parquet(old_path)
    old.unionByName(_month_pages(spark, {3: (40, 500, 14)})).write.parquet(both_path)
    ValidationEngine(spark, EngineConfig(**cfg, run_id="A")).run(spark.read.parquet(old_path))
    legacy_lineage(wd)

    profiles = []
    real = eng.partitioned_profile

    def spy(df, *a, **k):
        out = real(df, *a, **k)
        profiles.append((k.get("columns"), out))
        return out

    monkeypatch.setattr(eng, "partitioned_profile", spy)
    ValidationEngine(spark, EngineConfig(**cfg, run_id="B", baseline_run_id="A")).run(
        spark.read.parquet(both_path)
    )
    rescans = [df for cols, df in profiles if cols == []]
    assert len(rescans) == 1
    assert rescans[0].columns == ["_partition_id", "n_rows", "drift_n", "drift_q"]
    plan = rescans[0]._jdf.queryExecution().executedPlan().toString()
    assert set(re.findall(r"ReadSchema: (struct<[^>]*>)", plan)) == {
        "struct<warc_ts:timestamp,text:string>"
    }


def test_streaming_drift_windows_equal_engine_run(spark, tmp_path):
    """Streaming drift counts a window's drift rows as the engine does
    (rows with a text length), so both faces flag the same windows: a
    40-row month with 14 null texts has 26 drift rows, fewer than the 30
    a window needs, on both."""
    from gbif_data_validator_spark.plans import checkpoint as cp
    from gbif_data_validator_spark.streaming import validate_stream as vs

    src, wd = str(tmp_path / "src"), str(tmp_path / "w")
    _month_pages(spark, {1: (120, 50, 0), 2: (120, 50, 0), 3: (40, 500, 14)}).write.parquet(src)
    vs.stream_validate_to_work_dir(vs.read_pages_stream(spark, src), wd, run_id="s")
    streamed = {t[0] for t in vs.streaming_drift_verdicts(spark, wd)}
    rep = ValidationEngine(spark, EngineConfig(check_extraction=False)).run(
        spark.read.parquet(src)
    )
    batch = {s["url"] for s in rep.samples.get(CheckId.DRIFT_WINDOW, [])}

    assert streamed == batch
    sketches = cp.latest_window_sketches(spark, wd + "/checkpoint")
    assert sum(n for pid, (n, _) in sketches.items() if pid.endswith(":2024-03")) == 26
