"""End-to-end engine run on the labeled fixture: full recall, verdicts,
preflight short-circuit (the reference's chain tests —
EvaluationChainTest.java:35-61, IndexableRulesTest.java:19-22)."""

from pyspark.sql import functions as F

from gbif_data_validator_spark.model import CheckId
from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
from gbif_data_validator_spark.sources.synthetic import DRIFT_MONTH


def test_full_run_report(spark, pages):
    eng = ValidationEngine(spark, EngineConfig(check_extraction=True))
    rep = eng.run(pages.drop("expected_issue"))

    label_counts = {
        r.expected_issue: r.n
        for r in pages.groupBy("expected_issue").agg(F.count("*").alias("n")).collect()
        if r.expected_issue
    }
    # per-row checks: reported count == injected count
    for check in [
        CheckId.KEY_EMPTY, CheckId.URL_MALFORMED, CheckId.WARC_TS_INVALID,
        CheckId.WARC_TS_UNLIKELY, CheckId.TEXT_EMPTY, CheckId.TEXT_EXTRACTION_MISMATCH,
        CheckId.LANG_UNKNOWN,
    ]:
        assert rep.issue_counts.get(check) == label_counts[check], check
    # uniqueness: one violation per duplicated url
    n_dup_urls = label_counts["URL_DUPLICATE"]
    assert rep.issue_counts[CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED] == n_dup_urls
    # drift: exactly the injected window
    assert rep.issue_counts[CheckId.DRIFT_WINDOW] == 1
    assert rep.partition_verdicts.get(DRIFT_MONTH) is not None

    assert not rep.indexable  # blocking checks present
    assert rep.n_rows == pages.count()
    # samples: ≤10 per check, present for every reported check
    for check, n in rep.issue_counts.items():
        assert 1 <= len(rep.samples[check]) <= min(10, n)
    # metrics present
    assert rep.metrics["n_rows"] == rep.n_rows
    assert "text_len_quantiles" in rep.metrics


def test_clean_table_is_indexable(spark):
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = synth_pages(spark, 1500, with_violations=False).drop("expected_issue")
    rep = ValidationEngine(spark, EngineConfig(check_extraction=True)).run(clean)
    assert rep.indexable
    assert rep.issue_counts.get(CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED) is None
    assert all(v == "PASS" for v in rep.partition_verdicts.values())


def test_preflight_short_circuit(spark):
    """A table missing the key column stops the chain before any Spark job —
    ResourceConstitutionEvaluationChain break semantics (:114-121)."""
    bad = spark.createDataFrame([(1,)], schema="something int")
    rep = ValidationEngine(spark, EngineConfig()).run(bad)
    assert not rep.indexable
    assert rep.error_code == CheckId.RESOURCE_INTEGRITY
    assert CheckId.REQUIRED_TERM_MISSING in rep.issue_counts


def test_unknown_extra_column_is_nonblocking(spark, pages):
    from gbif_data_validator_spark.plans.preflight import preflight

    findings = preflight(pages)  # fixture carries extra expected_issue column
    assert any(f.check_id == CheckId.UNKNOWN_TERM for f in findings)
    assert not any(f.blocking for f in findings)


def test_report_matches_committed_golden(spark, pages):
    """Golden per-partition verdicts + issue counts (SURVEY.md §5): the
    fixture is a pure function of row id, so the full-run report's exact
    fields are reproducible; order-insensitive compare against the
    committed JSON."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "goldens", "report_golden.json")
    with open(path) as f:
        golden = json.load(f)
    from tests.conftest import N_FIXTURE_ROWS

    assert golden["n_fixture_rows"] == N_FIXTURE_ROWS
    rep = ValidationEngine(spark, EngineConfig(check_extraction=True)).run(
        pages.drop("expected_issue")
    )
    assert rep.n_rows == golden["n_rows"]
    assert rep.n_violations == golden["n_violations"]
    assert rep.indexable == golden["indexable"]
    assert dict(sorted(rep.issue_counts.items())) == golden["issue_counts"]
    assert dict(sorted(rep.partition_verdicts.items())) == golden["partition_verdicts"]


def test_engine_categorical_drift_opt_in(spark, pages_path):
    """cat_drift_col wires PSI drift into the run; default config is
    unaffected (golden reports unchanged)."""
    from gbif_data_validator_spark.model import CheckId
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    pages = spark.read.parquet(pages_path).drop("expected_issue")
    on = ValidationEngine(
        spark, EngineConfig(check_extraction=False, cat_drift_col="lang")
    ).run(pages)
    off = ValidationEngine(spark, EngineConfig(check_extraction=False)).run(pages)
    assert CheckId.CATEGORICAL_DRIFT_WINDOW not in off.issue_counts
    # the synthetic fixture's lang mix is uniform across months: the check
    # runs (opt-in accepted) but flags nothing on clean data
    assert on.issue_counts.get(CheckId.CATEGORICAL_DRIFT_WINDOW, 0) == 0
    off_no_cat = {k: v for k, v in on.issue_counts.items()
                  if k != CheckId.CATEGORICAL_DRIFT_WINDOW}
    assert off_no_cat == off.issue_counts


def test_chain_builder_toggles(spark, pages_path, monkeypatch):
    """EvaluationChain.Builder analog: disabled passes vanish from the result
    AND from the plan run executes (no uniqueness shuffle, no drift); the
    referential check is a predicate of the record scan, never a join."""
    import gbif_data_validator_spark.plans.engine as engine_mod
    from gbif_data_validator_spark.model import CheckId
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    plans = []
    report_query = engine_mod.violation_report

    def capture(violations, max_samples):
        plans.append(violations._jdf.queryExecution().executedPlan().toString())
        return report_query(violations, max_samples)

    monkeypatch.setattr(engine_mod, "violation_report", capture)
    pages = spark.read.parquet(pages_path).drop("expected_issue")
    base = dict(check_extraction=False, check_referential=False, check_drift=False)
    cfg = EngineConfig(check_uniqueness=False, **base)
    report = ValidationEngine(spark, cfg).run(pages)
    for gone in (
        CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED,
        CheckId.LANG_UNKNOWN,
        CheckId.DRIFT_WINDOW,
    ):
        assert gone not in report.issue_counts
    # record-structure findings still present
    assert CheckId.KEY_EMPTY in report.issue_counts
    # plan shape: the violations plan fed to the report query has no
    # uniqueness Exchange (one it has with the pass on), and turning the
    # referential check on adds no join of the language dimension
    ValidationEngine(spark, EngineConfig(check_uniqueness=True, **base)).run(pages)
    ref = dict(base, check_referential=True)
    ref_report = ValidationEngine(
        spark, EngineConfig(check_uniqueness=False, **ref)
    ).run(pages)
    assert CheckId.LANG_UNKNOWN in ref_report.issue_counts
    off_plan, on_plan, ref_plan = plans
    assert "hashpartitioning(url#" not in off_plan, off_plan
    assert "hashpartitioning(url#" in on_plan, on_plan
    assert "Join" not in ref_plan, ref_plan


def test_cluster_and_graph_summaries(spark, monkeypatch):
    """Config-gated report summaries (round-3): exact-dup clusters and
    host-PageRank become first-class engine citizens like drift — off by
    default (metrics untouched), exact scalars when on."""
    import datetime as dt

    import gbif_data_validator_spark.plans.engine as engine_mod

    monkeypatch.setattr(engine_mod, "GRAPH_TOP_K", 2)

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [
        # a.example links to b and c; b links to c — c should rank top
        ("https://a.example/1", ts, b'<a href="https://b.example/x">b</a><a href="https://c.example/y">c</a>', "dup text", "en"),
        ("https://a.example/2", ts, b'<a href="https://c.example/z">c</a>', "dup text", "en"),
        ("https://b.example/1", ts, b"<a href='https://c.example/w'>c</a>", "dup text", "en"),
        ("https://c.example/1", ts, b"<p>no links</p>", "unique one", "en"),
        ("https://c.example/2", ts, None, "unique two", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    off = ValidationEngine(
        spark, EngineConfig(check_extraction=False, check_drift=False)
    ).run(pages)
    assert "dup_clusters" not in off.metrics and "host_graph" not in off.metrics

    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False,
            check_drift=False,
            cluster_summary=True,
            graph_summary=True,
            graph_iterations=8,
        ),
    ).run(pages)
    dc = rep.metrics["dup_clusters"]
    assert dc == {
        "n_docs": 5,
        "n_distinct": 3,
        "n_dup_clusters": 1,
        "max_cluster": 3,
        "dup_rate": 0.4,
    }
    hg = rep.metrics["host_graph"]
    assert hg["n_hosts"] == 3 and len(hg["top_hosts"]) == 2  # cut to the cap
    assert hg["top_hosts"][0]["host"] == "c.example"  # most linked-to
    assert hg["top_hosts"][0]["rank"] > hg["top_hosts"][1]["rank"]


def test_graph_summary_no_edges(spark):
    """A corpus with no parseable links reports an empty summary, not a
    crash or a degenerate PageRank run."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 1, 2)
    pages = spark.createDataFrame(
        [("https://a.example/1", ts, b"<p>plain</p>", "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rep = ValidationEngine(
        spark,
        EngineConfig(check_extraction=False, check_drift=False, graph_summary=True),
    ).run(pages)
    assert rep.metrics["host_graph"] == {"n_hosts": 0, "top_hosts": []}


def test_table_rules_summary_and_blocking(spark):
    """Set-level rule battery (config: table_rules): off by default, one
    row per rule when on; a failed rule only blocks indexability under
    table_rules_blocking."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    pages = spark.createDataFrame(
        [
            ("https://a.example/1", ts, None, "alpha", "en"),
            ("https://a.example/2", ts, None, "beta", "en"),
            ("https://a.example/2", ts, None, "gamma", "fr"),  # dup url
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    base = EngineConfig(check_extraction=False, check_drift=False,
                        check_uniqueness=False)
    off = ValidationEngine(spark, base).run(pages)
    assert "table_rules" not in off.metrics

    rules = (("url", "UNIQUE", ""), ("lang", "IN_SET", "en,fr"),
             ("text", "NOT_NULL", ""))
    rep = ValidationEngine(
        spark,
        EngineConfig(check_extraction=False, check_drift=False,
                     check_uniqueness=False, table_rules=rules),
    ).run(pages)
    tr = {(r["column"], r["constraint"]): r for r in rep.metrics["table_rules"]}
    assert tr[("url", "UNIQUE")] == {
        "column": "url", "constraint": "UNIQUE", "detail": "",
        "n_violations": 1, "passed": False,
    }
    assert tr[("lang", "IN_SET")]["passed"] and tr[("text", "NOT_NULL")]["passed"]
    assert rep.indexable  # non-blocking by default

    blocked = ValidationEngine(
        spark,
        EngineConfig(check_extraction=False, check_drift=False,
                     check_uniqueness=False, table_rules=rules,
                     table_rules_blocking=True),
    ).run(pages)
    assert not blocked.indexable


def test_anomaly_gate(spark, tmp_path):
    """Engine-citizen anomaly gate (config: anomaly_gate): after three
    stable runs, a spiking run self-flags in report.metrics['anomaly'];
    it blocks indexability only under anomaly_blocking; without work_dir
    the gate raises loudly."""
    import datetime as dt

    import pytest as _pytest

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

    def pages(n_bad):
        rows = [("" if i < n_bad else f"https://ex.org/{i}",
                 dt.datetime(2024, 1, 1 + i % 28), None, "hi", "en")
                for i in range(60)]
        return spark.createDataFrame(rows, SCHEMA)

    wd = str(tmp_path / "w")
    base = dict(check_extraction=False, check_drift=False, work_dir=wd)
    for run_id in ["A", "B", "C"]:
        rep = ValidationEngine(
            spark, EngineConfig(run_id=run_id, anomaly_gate=True, **base)
        ).run(pages(1))
        assert rep.metrics["anomaly"]["flagged"] is False  # warm-up/stable

    spike = ValidationEngine(
        spark, EngineConfig(run_id="D", anomaly_gate=True, **base)
    ).run(pages(30))
    assert spike.metrics["anomaly"]["flagged"] is True
    assert spike.metrics["anomaly"]["n_prev"] == 3
    assert not spike.indexable  # KEY_EMPTY is blocking anyway

    # blocking variant flips indexable even when every CHECK passes: a
    # clean run whose rate drops to zero after a noisy history flags at a
    # tight k (the spike widened std, so k=3 would absorb the drop)
    clean = ValidationEngine(
        spark, EngineConfig(run_id="E", anomaly_gate=True, anomaly_k=0.5,
                            anomaly_blocking=True, **base)
    ).run(pages(0))
    assert clean.issue_counts == {}
    assert clean.metrics["anomaly"]["flagged"] is True  # 0 is anomalous too
    assert not clean.indexable  # blocked by the gate alone

    with _pytest.raises(ValueError, match="anomaly_gate requires work_dir"):
        ValidationEngine(
            spark, EngineConfig(check_extraction=False, check_drift=False,
                                anomaly_gate=True)
        ).run(pages(0))


def test_quarantine_sink(spark, tmp_path):
    """config: quarantine — the full offending rows land under
    work_dir/quarantine/<run_id>; clean rows stay out; the publishable
    corpus is pages minus the quarantine."""
    import datetime as dt

    import pytest as _pytest

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [("" if i < 3 else f"https://ex.org/{i}",
             dt.datetime(2024, 1, 1 + i % 28), None,
             "" if 3 <= i < 5 else "hello", "en") for i in range(40)]
    pages = spark.createDataFrame(rows, SCHEMA)

    wd = str(tmp_path / "w")
    rep = ValidationEngine(
        spark, EngineConfig(check_extraction=False, check_drift=False,
                            work_dir=wd, run_id="Q", quarantine=True)
    ).run(pages)
    q = rep.metrics["quarantine"]
    got = spark.read.parquet(q["path"])
    # 3 empty-url rows + 2 empty-text rows quarantined in FULL width
    assert q["n_rows"] == got.count() == 5
    assert set(got.columns) == set(pages.columns)
    assert got.where("text = 'hello' and url <> ''").count() == 0
    # publishable corpus = pages minus quarantine
    assert pages.join(got, ["url", "text"], "left_anti").count() == 35

    with _pytest.raises(ValueError, match="quarantine requires work_dir"):
        ValidationEngine(
            spark, EngineConfig(check_extraction=False, check_drift=False,
                                quarantine=True)
        ).run(pages)


def test_grouped_rules_per_window(spark):
    """grouped_rules: the same battery per partition window — a rule that
    passes globally can fail inside one crawl month, and only
    table_rules_blocking lets that flip indexability."""
    import datetime as dt

    import pytest as _pytest

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    jan, feb = dt.datetime(2024, 1, 2), dt.datetime(2024, 2, 2)
    # lang completeness: 2/2 in Jan, 1/2 in Feb → global 3/4 = 0.75 passes
    # a 0.7 floor while the Feb window (0.5) fails it
    pages = spark.createDataFrame(
        [
            ("https://a.example/1", jan, None, "t1", "en"),
            ("https://a.example/2", jan, None, "t2", "en"),
            ("https://a.example/3", feb, None, "t3", "en"),
            ("https://a.example/4", feb, None, "t4", None),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rules = (("lang", "COMPLETENESS_GE", "0.7"),)
    base = dict(check_extraction=False, check_drift=False,
                check_uniqueness=False, check_referential=False,
                table_rules=rules)
    rep = ValidationEngine(spark, EngineConfig(**base, grouped_rules=True)).run(pages)
    # global battery passes...
    assert all(r["passed"] for r in rep.metrics["table_rules"])
    g = rep.metrics["grouped_rules"]
    assert g["n_groups"] == 2 and g["n_verdicts"] == 2 and g["n_failed"] == 1
    assert not g["failures_truncated"]
    assert g["failures"] == [{
        "partition_id": "2024-02", "column": "lang",
        "constraint": "COMPLETENESS_GE", "detail": "0.7", "n_violations": 1,
    }]
    assert rep.indexable  # grouped failures observe, not block, by default

    blocked = ValidationEngine(
        spark, EngineConfig(**base, grouped_rules=True,
                            table_rules_blocking=True)
    ).run(pages)
    assert not blocked.indexable

    with _pytest.raises(ValueError, match="grouped_rules"):
        cfg = dict(base)
        cfg["table_rules"] = ()
        ValidationEngine(spark, EngineConfig(**cfg, grouped_rules=True)).run(pages)


def test_skew_summary_in_report(spark, monkeypatch):
    """skew_summary: top hot keys of the record key land in the report —
    the salting decision input as an engine citizen."""
    import datetime as dt

    import gbif_data_validator_spark.plans.engine as engine_mod

    monkeypatch.setattr(engine_mod, "SKEW_TOP_K", 2)

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 3, 2)
    rows = [(f"https://hot.example/x", ts, None, "t", "en")] * 6 + [
        (f"https://a.example/{i}", ts, None, "t", "en") for i in range(4)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base = dict(check_extraction=False, check_drift=False, check_uniqueness=False)
    off = ValidationEngine(spark, EngineConfig(**base)).run(pages)
    assert "key_skew" not in off.metrics
    rep = ValidationEngine(
        spark, EngineConfig(**base, skew_summary=True)
    ).run(pages)
    ks = rep.metrics["key_skew"]
    assert len(ks) == 2  # 5 distinct keys, cut to the cap
    assert ks[0]["key"] == "https://hot.example/x"
    assert ks[0]["n"] == 6 and ks[0]["share"] == 0.6 and ks[0]["n_groups"] == 5


def test_robots_summary_and_blocking(spark):
    """robots_table: per-host Disallow compliance folded into the
    report; robots_blocking makes a blocked page flip the verdict."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 3, 2)
    rows = [
        ("https://a.example/private/1", ts, None, "t", "en"),
        ("https://a.example/private/2", ts, None, "t", "en"),
        ("https://a.example/ok", ts, None, "t", "en"),
        ("https://b.example/private/1", ts, None, "t", "en"),  # no rules
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, text string",
    )
    base = dict(check_extraction=False, check_drift=False, check_uniqueness=False)
    clean = ValidationEngine(spark, EngineConfig(**base)).run(pages)
    assert "robots" not in clean.metrics and clean.indexable

    rep = ValidationEngine(
        spark, EngineConfig(**base, robots_table=robots)
    ).run(pages)
    r = rep.metrics["robots"]
    assert r == {
        "n_rules": 1, "n_blocked": 2, "n_blocked_hosts": 1,
        "top_hosts": [{"host": "a.example", "n": 2}],
    }
    assert rep.indexable  # summary alone never gates

    gated = ValidationEngine(
        spark,
        EngineConfig(**base, robots_table=robots, robots_blocking=True),
    ).run(pages)
    assert not gated.indexable


def test_volume_monitor_face(spark, tmp_path):
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    pages = synth_pages(spark, 600, with_violations=True).drop("expected_issue")
    rep = ValidationEngine(
        spark,
        EngineConfig(
            work_dir=str(tmp_path / "w"), run_id="vol", volume_monitor=True
        ),
    ).run(pages)
    vol = rep.metrics["volume"]
    assert vol["window"] == "day"
    assert vol["n_buckets"] > 0
    cp = vol["change_point"]
    assert 1 <= cp["k"] <= vol["n_buckets"]
    assert isinstance(cp["cusum_scaled"], int)
    assert vol["trend"]["direction"] in ("increasing", "decreasing", "flat")
    assert vol["dispersion_micro"] >= 0 and vol["mean_micro"] > 0
    # the battery must not disturb the validation verdicts themselves
    rep2 = ValidationEngine(
        spark,
        EngineConfig(work_dir=str(tmp_path / "w2"), run_id="novol"),
    ).run(pages)
    assert rep.issue_counts == rep2.issue_counts
    assert rep.indexable == rep2.indexable


def test_privacy_summary_and_blocking(spark):
    """privacy_quasi_cols: the k-anonymity release gate lands in the
    report; privacy_blocking flips the verdict when min_k < k."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    ts = dt.datetime(2024, 3, 2)
    # (lang) classes: "en" ×5 (safe at k=5), "fr" ×1 (risky) — 6 rows
    rows = [
        (f"https://a.example/{i}", ts, None, f"t{i}", "en") for i in range(5)
    ] + [("https://b.example/1", ts, None, "t9", "fr")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base = dict(check_extraction=False, check_drift=False, check_uniqueness=False)
    off = ValidationEngine(spark, EngineConfig(**base)).run(pages)
    assert "k_anonymity" not in off.metrics

    rep = ValidationEngine(
        spark,
        EngineConfig(
            **base, privacy_quasi_cols=("lang",), privacy_sensitive_col="url"
        ),
    ).run(pages)
    ka = rep.metrics["k_anonymity"]
    assert ka["n_rows"] == 6 and ka["n_classes"] == 2
    assert ka["min_k"] == 1 and ka["rows_below_k"] == 1
    assert ka["pct_below_k_micro"] == 1_000_000 // 6
    assert ka["min_l"] == 1  # the fr class maps to one url
    assert rep.indexable  # gate reports, doesn't block by default

    blocked = ValidationEngine(
        spark,
        EngineConfig(**base, privacy_quasi_cols=("lang",), privacy_blocking=True),
    ).run(pages)
    assert blocked.metrics["k_anonymity"]["min_k"] == 1
    assert not blocked.indexable

    # all classes >= k -> blocking leaves the verdict alone
    safe = ValidationEngine(
        spark,
        EngineConfig(
            **base,
            privacy_quasi_cols=("lang",),
            privacy_k=5,
            privacy_blocking=True,
        ),
    ).run(pages.where("lang = 'en'"))
    assert safe.metrics["k_anonymity"]["min_k"] == 5
    assert safe.indexable


def test_manifest_gate_clean_blocking_and_summary(spark, tmp_path):
    """Engine manifest gate: a correct manifest passes with a zero
    summary; a drifted+ghosted one blocks with MANIFEST_MISMATCH before
    any validation pass; non-blocking mode completes and reports."""
    from gbif_data_validator_spark.operators.layout import file_rowcounts
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    p = str(tmp_path / "mpages")
    synth_pages(spark, 800, with_violations=False).drop(
        "expected_issue"
    ).write.parquet(p)
    pages = spark.read.parquet(p)
    good = file_rowcounts(pages)

    rep = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, manifest_table=good, manifest_blocking=True
        ),
    ).run(pages)
    assert rep.indexable and rep.metrics["manifest"]["n_findings"] == 0

    bad = good.select(
        "file", (F.col("n_rows") + 1).alias("n_rows")
    ).unionByName(
        spark.createDataFrame([("ghost.parquet", 9)], "file string, n_rows long")
    )
    blocked = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, manifest_table=bad, manifest_blocking=True
        ),
    ).run(pages)
    assert blocked.error_code == CheckId.MANIFEST_MISMATCH
    assert not blocked.indexable and blocked.n_rows == 0
    counts = blocked.metrics["manifest"]["counts"]
    assert counts["FILE_MISSING"] == 1
    assert counts["ROWCOUNT_MISMATCH"] >= 1
    assert blocked.issue_counts[CheckId.MANIFEST_MISMATCH] == sum(counts.values())

    warned = ValidationEngine(
        spark,
        EngineConfig(
            check_extraction=False, manifest_table=bad, manifest_blocking=False
        ),
    ).run(pages)
    assert warned.indexable and warned.n_rows == 800
    assert warned.metrics["manifest"]["counts"]["FILE_MISSING"] == 1


def test_robots_rfc_allow_carveout_in_engine(spark):
    """robots_rfc toggle: an Allow carve-out under a Disallow prefix
    stops counting as blocked; the census mode still counts it."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = synth_pages(spark, 300, with_violations=False).drop(
        "expected_issue"
    )
    # every synthetic url is https://hostN.example.com/page/<id>; carve
    # /page/1 back out of a full /page/ disallow
    robots = spark.createDataFrame(
        [("hot0.example.com", "User-agent: *\nDisallow: /page/\nAllow: /page/1\n")],
        "host string, text string",
    )
    base = dict(check_extraction=False, robots_table=robots)
    census = ValidationEngine(spark, EngineConfig(**base)).run(clean)
    rfc = ValidationEngine(
        spark, EngineConfig(**base, robots_rfc=True)
    ).run(clean)
    n_census = census.metrics["robots"]["n_blocked"]
    n_rfc = rfc.metrics["robots"]["n_blocked"]
    assert n_census > n_rfc > 0  # carve-out released some pages only
