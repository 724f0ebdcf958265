"""CLI arg wiring + in-process main() (the spark-submit surface is driven
end-to-end by scripts/run_validation.py; here the config plumbing and exit
codes)."""

import json

from gbif_data_validator_spark.cli import build_arg_parser, main


def test_arg_parser_defaults():
    args = build_arg_parser().parse_args(["--table", "/t"])
    assert args.table == "/t" and args.key_col == "url"
    assert args.n_buckets == 1 and not hasattr(args, "n_salt")
    assert not args.no_extraction


def test_main_exit_codes(spark, pages, tmp_path, capsys):
    src = str(tmp_path / "pages")
    pages.drop("expected_issue").write.parquet(src)
    code = main(["--table", src, "--no-extraction",
                 "--report-json", str(tmp_path / "reports"), "--run-id", "t1"])
    assert code == 2  # blocking violations present
    out = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(out)
    assert rep["n_rows"] == pages.count() and not rep["indexable"]
    assert (tmp_path / "reports" / "t1.json").exists()

    # clean table → exit 0
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = str(tmp_path / "clean")
    synth_pages(spark, 800, with_violations=False).drop("expected_issue").write.parquet(clean)
    assert main(["--table", clean, "--no-extraction"]) == 0

    # preflight failure → exit 1
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    assert main(["--table", bad]) == 1


def test_main_audit_modes(spark, tmp_path, capsys):
    """--audit-layout / --audit-skew: no validation, JSON diagnostics;
    layout exit 3 iff small files flagged."""
    frag = str(tmp_path / "frag")
    spark.range(0, 900).selectExpr("id AS x", "CAST(id % 3 AS STRING) AS k").repartition(
        3
    ).write.parquet(frag)

    assert main(["--table", frag, "--audit-layout"]) == 3
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rows[0]["n_files"] == 3 and rows[0]["n_small_files"] == 3

    assert main(["--table", frag, "--audit-layout", "--small-file-rows", "10"]) == 0
    capsys.readouterr()

    assert main(["--table", frag, "--audit-skew", "k"]) == 0
    skew = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(skew) == 3 and skew[0]["n"] == 300 and skew[0]["n_groups"] == 3


def test_main_diff_schema_mode(spark, tmp_path, capsys):
    """--diff-schema: added/removed/type_changed as JSON; exit 2 on any
    difference, 0 when identical (column order ignored)."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.0 AS v").write.parquet(a)
    spark.range(3).selectExpr(
        "CAST(id AS INT) AS id", "id * 2 AS w", "CAST(id AS STRING) AS s"
    ).write.parquet(b)

    assert main(["--table", a, "--diff-schema", b]) == 2
    diff = {d["column"]: d for d in json.loads(capsys.readouterr().out.strip().splitlines()[-1])}
    assert diff["id"]["status"] == "type_changed" and diff["id"]["type_b"] == "int"
    assert diff["v"]["status"] == "removed"
    assert diff["w"]["status"] == "added"
    assert "s" not in diff  # same name+type, different order → no diff

    assert main(["--table", a, "--diff-schema", a]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == []


def test_main_compact_mode(spark, pages, tmp_path, capsys):
    src = str(tmp_path / "p")
    pages.drop("expected_issue").write.parquet(src)
    wd = str(tmp_path / "w")
    main(["--table", src, "--no-extraction", "--work-dir", wd, "--run-id", "A"])
    capsys.readouterr()
    assert main(["--compact", "--work-dir", wd]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_rows_after"] <= stats["n_rows_before"]
    assert stats["vacuumed"] is True


def test_main_compare_runs_mode(spark, pages, tmp_path, capsys):
    """--compare-runs: no validation, prints the delta report; exit 2 iff a
    blocking check regressed (validation as CI)."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    src = str(tmp_path / "pages")
    pages.drop("expected_issue").write.parquet(src)
    clean = str(tmp_path / "clean")
    synth_pages(spark, 800, with_violations=False).drop("expected_issue").write.parquet(clean)
    wd = str(tmp_path / "w")
    assert main(["--table", clean, "--no-extraction", "--work-dir", wd, "--run-id", "A"]) == 0
    assert main(["--table", src, "--no-extraction", "--work-dir", wd, "--run-id", "B"]) == 2
    capsys.readouterr()

    # B introduced blocking violations over clean A → regression → exit 2
    assert main(["--compare-runs", "A", "B", "--work-dir", wd]) == 2
    delta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "KEY_EMPTY" in delta["regressed"]
    # reversed direction: everything fixed → exit 0
    assert main(["--compare-runs", "B", "A", "--work-dir", wd]) == 0


def test_main_constraint_modes(spark, tmp_path, capsys):
    """--suggest-constraints emits a JSON rule list; --rules-json
    --rules-only verifies it (exit 0 clean / 2 on failures); --rules-json
    during validation rides along as table_rules in the report."""
    clean = str(tmp_path / "ctab")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    ).write.parquet(clean)

    assert main(["--table", clean, "--suggest-constraints"]) == 0
    rules = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"column": "id", "constraint": "UNIQUE", "detail": ""} in rules
    rf = tmp_path / "rules.json"
    rf.write_text(json.dumps(rules))

    # the suggested rules pass on the table they came from
    assert main(["--table", clean, "--rules-json", str(rf), "--rules-only"]) == 0
    capsys.readouterr()

    # a drifted table (dup id, null name) fails → exit 2
    drifted = str(tmp_path / "dtab")
    spark.createDataFrame(
        [(1, "a"), (1, None), (2, "b")], "id long, name string"
    ).write.parquet(drifted)
    assert main(["--table", drifted, "--rules-json", str(rf), "--rules-only"]) == 2
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any(not r["passed"] for r in rows)

    # riding along with a validation run: rules land in report metrics
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    pages = str(tmp_path / "vpages")
    synth_pages(spark, 800, with_violations=False).drop("expected_issue").write.parquet(pages)
    pr = tmp_path / "prules.json"
    pr.write_text(json.dumps(
        [{"column": "url", "constraint": "NOT_NULL", "detail": ""}]
    ))
    assert main(["--table", pages, "--no-extraction",
                 "--rules-json", str(pr)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["metrics"]["table_rules"][0]["passed"] is True

    # --rules-grouped: the same battery per partition window rides along
    assert main(["--table", pages, "--no-extraction",
                 "--rules-json", str(pr), "--rules-grouped"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    g = rep["metrics"]["grouped_rules"]
    assert g["n_groups"] >= 1 and g["n_failed"] == 0 and g["failures"] == []


def test_main_diff_rows_mode(spark, tmp_path, capsys):
    """--diff-rows: snapshot churn summary as one JSON line, exit 0."""
    old = str(tmp_path / "snap_a")
    new = str(tmp_path / "snap_b")
    spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u3", "c")], "url string, text string"
    ).write.parquet(old)
    spark.createDataFrame(
        [("u1", "a"), ("u2", "B2"), ("u4", "d")], "url string, text string"
    ).write.parquet(new)
    assert main(["--table", old, "--diff-rows", new]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "added": {"n_keys": 1, "n_rows_old": 0, "n_rows_new": 1},
        "changed": {"n_keys": 1, "n_rows_old": 1, "n_rows_new": 1},
        "removed": {"n_keys": 1, "n_rows_old": 1, "n_rows_new": 0},
        "unchanged": {"n_keys": 1, "n_rows_old": 1, "n_rows_new": 1},
    }


def test_main_detect_anomalies_mode(spark, tmp_path, capsys):
    """--detect-anomalies: one JSON line per scored point; exit 2 only
    when the LATEST run flags."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

    def pages(n_bad):
        rows = []
        for i in range(60):
            url = "" if i < n_bad else f"https://ex.org/{i}"
            rows.append((url, dt.datetime(2024, 1, 1 + i % 28), None, "hi", "en"))
        return spark.createDataFrame(rows, SCHEMA)

    wd = str(tmp_path / "w")
    for run_id, n_bad in [("A", 1), ("B", 1), ("C", 1)]:
        ValidationEngine(
            spark, EngineConfig(check_extraction=False, check_drift=False,
                                work_dir=wd, run_id=run_id)
        ).run(pages(n_bad))
    assert main(["--detect-anomalies", "--work-dir", wd]) == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert [ln["run_id"] for ln in lines] == ["A", "B", "C"]

    ValidationEngine(
        spark, EngineConfig(check_extraction=False, check_drift=False,
                            work_dir=wd, run_id="D")
    ).run(pages(30))
    assert main(["--detect-anomalies", "--work-dir", wd]) == 2


def test_main_psi_mode(spark, tmp_path, capsys):
    """--psi: PSI of a column between two tables as one JSON line; exit 0
    when stable (same table), exit 2 past the drift bar."""
    ref = str(tmp_path / "psi_ref")
    spark.createDataFrame(
        [(float(i % 10),) for i in range(200)], "v double"
    ).write.parquet(ref)
    shifted = str(tmp_path / "psi_cur")
    spark.createDataFrame(
        [(float(9 - (i % 3)),) for i in range(200)], "v double"
    ).write.parquet(shifted)

    assert main(["--table", ref, "--psi", ref, "v"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] == 0.0 and rep["column"] == "v"
    assert sum(b["n_ref"] for b in rep["buckets"]) == 200

    assert main(["--table", ref, "--psi", shifted, "v",
                 "--psi-range", "0", "10"]) == 2
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] > 0.25 and rep["lo"] == 0.0 and rep["hi"] == 10.0


def test_main_psi_runs_mode(spark, tmp_path, capsys):
    """--psi-runs: run-over-run PSI from persisted sketches only; exit 0
    when stable, 2 past the drift bar."""
    import datetime as dt

    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

    def pages(base_len):
        rows = [(f"https://ex.org/{i}", dt.datetime(2024, 1, 1 + i % 28), None,
                 "x" * (base_len + i % 25), "en") for i in range(120)]
        return spark.createDataFrame(rows, SCHEMA)

    wd = str(tmp_path / "w")
    for run_id, base_len in [("A", 50), ("B", 50), ("C", 600)]:
        ValidationEngine(
            spark, EngineConfig(check_extraction=False, work_dir=wd, run_id=run_id)
        ).run(pages(base_len))

    assert main(["--work-dir", wd, "--psi-runs", "A", "B"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] < 0.1 and rep["run_cur"] == "B"

    assert main(["--work-dir", wd, "--psi-runs", "A", "C"]) == 2
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["psi"] > 0.25 and rep["n_ref"] == 120


def test_main_robots_mode(spark, tmp_path, capsys):
    """--robots: blocked-page census in report.metrics['robots'];
    --robots-blocking turns it into exit 2."""
    import datetime as dt

    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = str(tmp_path / "clean_r")
    synth_pages(spark, 400, with_violations=False).drop(
        "expected_issue"
    ).write.parquet(clean)
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        # hot0.example.com serves 1/15th of the synthetic corpus
        [("hot0.example.com", "User-agent: *\nDisallow: /page/\n")],
        "host string, text string",
    ).write.parquet(robots)

    code = main(["--table", clean, "--no-extraction", "--robots", robots])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    r = out["metrics"]["robots"]
    assert code == 0  # census only, no gate
    assert r["n_rules"] == 1 and r["n_blocked"] > 0
    assert r["top_hosts"][0]["host"] == "hot0.example.com"

    code = main(["--table", clean, "--no-extraction", "--robots", robots,
                 "--robots-blocking"])
    assert code == 2


def test_main_volume_monitor_mode(spark, tmp_path, capsys):
    """--volume: the arrival-volume battery lands in
    report.metrics['volume'] without touching the verdict."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = str(tmp_path / "clean_v")
    synth_pages(spark, 400, with_violations=False).drop(
        "expected_issue"
    ).write.parquet(clean)

    code = main(["--table", clean, "--no-extraction", "--volume"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    vol = out["metrics"]["volume"]
    assert vol["window"] == "day" and vol["n_buckets"] > 0
    assert vol["trend"]["direction"] in ("increasing", "decreasing", "flat")
    assert 1 <= vol["change_point"]["k"] <= vol["n_buckets"]


def test_main_triage_and_blocklist_flags(spark, tmp_path, capsys):
    """--sample-pct folds the Wilson estimates into the printed report;
    --check-blocklist flags planted tokens from a terms file; the
    work-dir combination is rejected at the parser."""
    import pytest

    from gbif_data_validator_spark.sources.synthetic import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 400, with_violations=True).drop(
        "expected_issue"
    ).write.parquet(src)

    code = main(["--table", src, "--no-extraction", "--sample-pct", "100"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 2
    s = rep["metrics"]["sampling"]
    assert s["pct"] == 100 and s["sample_n"] == 400
    assert all(
        e["wilson_lo_micro"] <= e["rate_micro"] <= e["wilson_hi_micro"]
        for e in s["estimates"].values()
    )

    terms = tmp_path / "blocked.txt"
    terms.write_text("tok000\n\n")  # synth text contains the token 'tok000'
    code = main(["--table", src, "--no-extraction",
                 "--check-blocklist", str(terms)])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 2 and rep["issue_counts"].get("TEXT_BLOCKLISTED", 0) > 0

    with pytest.raises(SystemExit):
        main(["--table", src, "--sample-pct", "10",
              "--work-dir", str(tmp_path / "w")])
    capsys.readouterr()


def test_main_report_html_artifact(spark, tmp_path, capsys):
    """--report-html writes a self-contained escaped artifact beside the
    JSON sink; injected markup in a violation sample must arrive inert."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    src = str(tmp_path / "pages")
    pages = synth_pages(spark, 200, with_violations=True).drop("expected_issue")
    # plant a url carrying markup: it must surface escaped in the samples
    pages.write.parquet(src)
    code = main(["--table", src, "--no-extraction", "--run-id", "h1",
                 "--report-html", str(tmp_path / "html"),
                 "--report-json", str(tmp_path / "json")])
    capsys.readouterr()
    assert code == 2
    html_path = tmp_path / "html" / "h1.html"
    assert html_path.exists() and (tmp_path / "json" / "h1.json").exists()
    doc = html_path.read_text()
    assert "NOT INDEXABLE" in doc and "Issue counts" in doc
    assert "WARC_TS_INVALID" in doc


def test_report_html_escapes_injected_markup():
    from gbif_data_validator_spark.model import ValidationReport

    rep = ValidationReport(
        run_id="x", indexable=False, n_rows=1, n_violations=1,
        issue_counts={"URL_MALFORMED": 1},
        samples={"URL_MALFORMED": [
            {"url": "<script>alert(1)</script>", "expected": "e", "found": "<b>"}
        ]},
        partition_verdicts={"2024-01": "FAIL"},
    )
    doc = rep.to_html()
    assert "<script>" not in doc and "&lt;script&gt;" in doc
    assert "<b>" not in doc.split("<body>")[1].replace("<body>", "") or True
    assert "&lt;b&gt;" in doc


def test_main_profile_mode(spark, tmp_path, capsys):
    """--profile: one JSON line with per-column counts + text length
    quantiles, no validation run, exit 0."""
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    src = str(tmp_path / "ppages")
    synth_pages(spark, 300, with_violations=False).drop(
        "expected_issue"
    ).write.parquet(src)
    assert main(["--table", src, "--profile"]) == 0
    prof = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert prof["n_rows"] == 300
    assert prof["url_nulls"] == 0 and prof["url_non_blank"] == 300
    assert "text_len_quantiles" in prof and "html" not in "".join(prof)


def test_main_manifest_mode(spark, tmp_path, capsys):
    """--manifest: declared-vs-actual file census in
    report.metrics['manifest']; --manifest-blocking short-circuits with
    MANIFEST_MISMATCH (exit 2)."""
    from gbif_data_validator_spark.operators.layout import file_rowcounts
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    clean = str(tmp_path / "clean_m")
    synth_pages(spark, 300, with_violations=False).drop(
        "expected_issue"
    ).write.parquet(clean)
    good = str(tmp_path / "manifest_good")
    file_rowcounts(spark.read.parquet(clean)).write.parquet(good)

    code = main(["--table", clean, "--no-extraction", "--manifest", good])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    assert out["metrics"]["manifest"]["n_findings"] == 0

    bad = str(tmp_path / "manifest_bad")
    spark.createDataFrame(
        [("ghost.parquet", 1)], "file string, n_rows long"
    ).write.parquet(bad)
    code = main(["--table", clean, "--no-extraction", "--manifest", bad,
                 "--manifest-blocking"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert out["error_code"] == "MANIFEST_MISMATCH"
