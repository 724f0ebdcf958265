"""Production entry point: validate a table via ``spark-submit``.

The reference's user surface is "submit a resource, poll, fetch the JSON
report" (POST /jobserver/submit — ValidationResource.java:87-97). The Spark
surface is one submitted job over a table reference:

    zip -r gdv.zip gbif_data_validator_spark
    spark-submit --py-files gdv.zip scripts/run_validation.py \
        --table s3://bucket/pages/ --work-dir s3://bucket/runs/run1 \
        --report-json ./reports

Exit code 0 = indexable, 2 = validation found blocking issues, 1 = the run
itself failed (the reference's FINISHED-vs-FAILED split).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gdv-validate", description=__doc__)
    p.add_argument("--table", default=None,
                   help="parquet path or catalog reference (db.table); "
                        "required unless --compare-runs")
    p.add_argument("--compare-runs", nargs=2, metavar=("RUN_A", "RUN_B"),
                   default=None,
                   help="no validation: print the delta report between two "
                        "runs of this --work-dir (per-check count deltas, "
                        "fixed/regressed checks, verdict flips) and exit 0, "
                        "or 2 if any blocking check regressed")
    p.add_argument("--work-dir", default=None,
                   help="durable run dir: violations + checkpoint tables; "
                        "enables resume (same --run-id revalidates only "
                        "unfinished partitions)")
    p.add_argument("--run-id", default=None, help="resume/identify the run")
    p.add_argument("--baseline-run-id", default=None,
                   help="incremental validation: skip warc_ts windows already "
                        "checkpointed by ANY earlier run in the same work-dir "
                        "(chain-wide pruning; the named id must itself have "
                        "checkpoint rows there — errors otherwise; global "
                        "passes and the UNKNOWN partition still rerun)")
    p.add_argument("--key-col", default="url")
    p.add_argument("--n-buckets", type=int, default=1,
                   help="url-hash buckets per warc_ts month partition")
    p.add_argument("--drift-threshold", type=float, default=0.15)
    p.add_argument("--cat-drift-col", default=None,
                   help="categorical column for PSI/chi2 drift per warc_ts "
                        "window (e.g. lang); omitted = check disabled")
    p.add_argument("--cat-drift-threshold", type=float, default=0.2)
    p.add_argument("--no-uniqueness", action="store_true",
                   help="skip the key-uniqueness pass")
    p.add_argument("--no-referential", action="store_true",
                   help="skip the broadcast referential check vs the lang dim")
    p.add_argument("--no-drift", action="store_true",
                   help="skip the KS drift check over warc_ts windows")
    p.add_argument("--data-unique-col", action="append", default=[],
                   help="data column for an A2 uniqueness pass "
                        "(repeatable; DataUniquenessEvaluator analog)")
    p.add_argument("--no-extraction", action="store_true",
                   help="skip the html->text byte-identity check "
                        "(html column is then never scanned)")
    p.add_argument("--report-json", default=None,
                   help="directory to write {run_id}.json into (S9 sink)")
    p.add_argument("--report-html", default=None,
                   help="directory to write a self-contained {run_id}.html "
                        "report into (the reference's web-UI face as a "
                        "static artifact)")
    p.add_argument("--profile", action="store_true",
                   help="no validation: print the --table's one-row column "
                        "profile (non-blank/null/approx-distinct per column, "
                        "length quantiles for text) as JSON and exit 0 — the "
                        "Deequ-profiler face, one scan")
    p.add_argument("--dataset-card", action="store_true",
                   help="no validation: print the --table's dataset card "
                        "(docs/chars/tokens, time range, exact-dup rate, "
                        "language mix, column profile) as one JSON line and "
                        "exit 0; with --card-md DIR also write "
                        "{basename}.md")
    p.add_argument("--card-md", default=None,
                   help="with --dataset-card: directory for the markdown "
                        "rendering")
    p.add_argument("--audit-layout", action="store_true",
                   help="no validation: print the --table's physical-layout "
                        "audit (per-file census, small-file flags) as JSON "
                        "and exit 0, or 3 if any small files were flagged")
    p.add_argument("--audit-skew", metavar="KEY_COL", default=None,
                   help="no validation: print the --table's top-10 key-skew "
                        "profile for KEY_COL as JSON (the key-skew "
                        "measurement) and exit 0")
    p.add_argument("--small-file-rows", type=int, default=100_000,
                   help="threshold for --audit-layout's small-file flag")
    p.add_argument("--compact", action="store_true",
                   help="no validation: compact + vacuum this --work-dir's "
                        "violations store (offline maintenance — do not run "
                        "concurrently with validation; resuming run-ids "
                        "older than the latest becomes unsupported)")
    p.add_argument("--no-vacuum", action="store_true",
                   help="with --compact: merge files only, keep all rows")
    p.add_argument("--detect-anomalies", action="store_true",
                   help="no validation: score every run's violation rate "
                        "against the runs preceding it (online z-score, "
                        "Deequ AnomalyDetection analog) from this "
                        "--work-dir's lineage; one JSON line per scored "
                        "point; exit 2 if the LATEST run is flagged")
    p.add_argument("--anomaly-k", type=float, default=3.0,
                   help="z-score threshold for --detect-anomalies "
                        "(default: 3.0)")
    p.add_argument("--anomaly-per-check", action="store_true",
                   help="score one series per check_id instead of the "
                        "overall violation rate")
    p.add_argument("--anomaly-gate", action="store_true",
                   help="during validation (requires --work-dir): score "
                        "THIS run against the work-dir history right after "
                        "its checkpoint lands (report.metrics['anomaly'])")
    p.add_argument("--anomaly-blocking", action="store_true",
                   help="with --anomaly-gate: an anomalous run blocks "
                        "indexability")
    p.add_argument("--quarantine", action="store_true",
                   help="during validation (requires --work-dir): write the "
                        "FULL offending rows to work-dir/quarantine/<run-id> "
                        "for reprocessing (report.metrics['quarantine'])")
    p.add_argument("--robots", metavar="ROBOTS_TABLE", default=None,
                   help="during validation: parquet/CSV table of (host, "
                        "text) robots.txt snapshots — parse star-record "
                        "Disallow rules and fold the blocked-page census "
                        "into report.metrics['robots']")
    p.add_argument("--robots-blocking", action="store_true",
                   help="with --robots: any blocked page flips the verdict")
    p.add_argument("--robots-rfc", action="store_true",
                   help="with --robots: apply full RFC 9309 precedence "
                        "(Allow + Disallow, longest match wins) instead of "
                        "the raw Disallow-prefix census")
    p.add_argument("--manifest", metavar="MANIFEST_TABLE", default=None,
                   help="during validation: parquet/CSV table of (file, "
                        "n_rows) declaring the snapshot's expected file "
                        "set — reconciled against the actual scan "
                        "(FILE_MISSING / FILE_ORPHAN / ROWCOUNT_MISMATCH) "
                        "into report.metrics['manifest']")
    p.add_argument("--manifest-blocking", action="store_true",
                   help="with --manifest: any finding short-circuits the "
                        "run with error_code=MANIFEST_MISMATCH (exit 1 — "
                        "the run FAILED at the preflight grain)")
    p.add_argument("--volume", action="store_true",
                   help="fold the arrival-volume monitor battery "
                        "(rate anomaly, CUSUM change point, Theil-Sen "
                        "trend, dispersion) into report.metrics['volume'] "
                        "— one extra narrow warc_ts scan")
    p.add_argument("--volume-window", default="day",
                   help="date_trunc grain for --volume buckets "
                        "(default: day)")
    p.add_argument("--check-mojibake", action="store_true",
                   help="during validation: flag double-decode corruption "
                        "(TEXT_MOJIBAKE) — text that decoded through the "
                        "wrong codec; fuses into the pass-1 scan")
    p.add_argument("--check-lang-script", action="store_true",
                   help="during validation: flag declared-lang vs dominant-"
                        "script disagreement (LANG_SCRIPT_MISMATCH); fuses "
                        "into the pass-1 scan")
    p.add_argument("--check-blocklist", metavar="TERMS_FILE", default=None,
                   help="during validation: flag pages containing any "
                        "blocklisted token (TEXT_BLOCKLISTED; C4 bad-words "
                        "gate) — TERMS_FILE has one term per line; fuses "
                        "into the pass-1 scan")
    p.add_argument("--checks-blocking", action="store_true",
                   help="with --check-*: flagged rows flip the verdict")
    p.add_argument("--sample-pct", type=int, default=None,
                   help="triage mode: validate only this deterministic "
                        "hash-sample percentage of pages and report Wilson "
                        "95%% full-corpus rate estimates per check "
                        "(report.metrics['sampling']); incompatible with "
                        "--work-dir")
    p.add_argument("--history", action="store_true",
                   help="no validation: print one JSON line per run that "
                        "touched this --work-dir (newest first) and exit 0")
    p.add_argument("--suggest-constraints", action="store_true",
                   help="no validation: print the constraint suggestions "
                        "(Deequ ConstraintSuggestion analog) for --table as "
                        "JSON rules and exit 0 — feed the output to "
                        "--rules-json on a later table")
    p.add_argument("--rules-json", metavar="RULES_FILE", default=None,
                   help="verify the JSON rule list (as emitted by "
                        "--suggest-constraints) against --table in one agg "
                        "scan; with --table alone: no validation, print "
                        "per-rule results, exit 0 if all passed else 2. "
                        "Combined with a validation run the rules ride "
                        "along as EngineConfig.table_rules")
    p.add_argument("--rules-blocking", action="store_true",
                   help="with --rules-json during validation: a failed rule "
                        "blocks indexability, on the whole table or (with "
                        "--rules-grouped) in any window "
                        "(EngineConfig.table_rules_blocking)")
    p.add_argument("--rules-grouped", action="store_true",
                   help="with --rules-json during validation: additionally "
                        "evaluate the rule battery PER PARTITION WINDOW "
                        "(EngineConfig.grouped_rules), from the same scan")
    p.add_argument("--rules-only", action="store_true",
                   help="with --rules-json: verify rules and exit without "
                        "running the validation engine")
    p.add_argument("--psi", nargs=2, metavar=("NEW_TABLE", "COLUMN"),
                   default=None,
                   help="no validation: Population Stability Index of COLUMN "
                        "between --table (reference) and NEW_TABLE (current) "
                        "— per-bucket terms + total as one JSON line; exit 2 "
                        "when psi exceeds --psi-threshold (default 0.25, the "
                        "standard 'drifted' bar), else 0")
    p.add_argument("--psi-range", nargs=2, type=float, metavar=("LO", "HI"),
                   default=None,
                   help="explicit [LO, HI) bucket envelope for --psi "
                        "(default: the reference table's min/max)")
    p.add_argument("--psi-buckets", type=int, default=10,
                   help="fixed-width bucket count for --psi (default 10)")
    p.add_argument("--psi-threshold", type=float, default=0.25,
                   help="exit-2 bar for --psi (default 0.25)")
    p.add_argument("--psi-runs", nargs=2, metavar=("RUN_A", "RUN_B"),
                   default=None,
                   help="no validation: PSI of the drift metric between two "
                        "runs of this --work-dir, computed ONLY from their "
                        "persisted window sketches (zero corpus rescan); "
                        "honors --psi-buckets/--psi-range/--psi-threshold, "
                        "exit 2 past the bar")
    p.add_argument("--diff-rows", metavar="NEW_TABLE", default=None,
                   help="no validation: snapshot-over-snapshot churn of "
                        "--table (baseline) vs NEW_TABLE — per-status "
                        "added/changed/removed/unchanged key + row counts "
                        "as one JSON line; exit 0")
    p.add_argument("--diff-key", default="url",
                   help="key column for --diff-rows (default: url)")
    p.add_argument("--diff-fingerprint", default="text",
                   help="content-fingerprint column for --diff-rows "
                        "(default: text)")
    p.add_argument("--diff-schema", metavar="OTHER_TABLE", default=None,
                   help="no validation: schema-evolution diff of --table vs "
                        "OTHER_TABLE (added/removed/type_changed columns as "
                        "JSON); exit 0 if identical, 2 otherwise — the "
                        "pre-flight for chaining an incremental run")
    return p


def main(argv: list[str] | None = None) -> int:
    from .plans.engine import EngineConfig, ValidationEngine
    from .sources.tables import read_table

    parser = build_arg_parser()
    args = parser.parse_args(argv)
    if args.baseline_run_id and not args.work_dir:
        parser.error("--baseline-run-id requires --work-dir (the shared "
                     "checkpoint/violations store the baseline run wrote to)")
    if (args.compare_runs or args.compact or args.history
            or args.detect_anomalies or args.psi_runs):
        if not args.work_dir:
            parser.error("--compare-runs/--compact/--history/"
                         "--detect-anomalies/--psi-runs require --work-dir")
    elif not args.table:
        parser.error("--table is required (unless --compare-runs/--compact/"
                     "--history)")
    spark = SparkSession.builder.appName("gdv-validate").getOrCreate()

    if args.psi:
        from pyspark.sql import functions as F

        from .operators.drift import psi_drift
        from .sources.tables import read_table as _rt

        new_table, col = args.psi
        ref, cur = _rt(spark, args.table), _rt(spark, new_table)
        if args.psi_range:
            lo, hi = args.psi_range
        else:
            b = ref.agg(
                F.min(F.col(col).cast("double")).alias("lo"),
                F.max(F.col(col).cast("double")).alias("hi"),
            ).first()
            if b["lo"] is None:
                parser.error(f"--psi: reference column {col!r} has no "
                             "non-NULL values to derive an envelope from; "
                             "pass --psi-range")
            lo, hi = float(b["lo"]), float(b["hi"])
            if hi <= lo:
                hi = lo + 1.0  # constant column: one interior bucket
        rows = psi_drift(
            ref, cur, col, lo=lo, hi=hi, n_buckets=args.psi_buckets
        ).collect()
        psi = rows[0]["psi"] if rows else 0.0
        print(json.dumps({
            "column": col, "lo": lo, "hi": hi, "psi": psi,
            "buckets": [
                {"bucket": int(r["bucket"]), "n_ref": int(r["n_ref"]),
                 "n_cur": int(r["n_cur"]), "term": float(r["term"])}
                for r in rows
            ],
        }))
        return 2 if psi > args.psi_threshold else 0

    if args.diff_rows:
        from .operators.snapshot import STATUSES, snapshot_diff_summary
        from .sources.tables import read_table as _rt

        got = {
            r["status"]: r
            for r in snapshot_diff_summary(
                _rt(spark, args.table), _rt(spark, args.diff_rows),
                key_col=args.diff_key, fingerprint_col=args.diff_fingerprint,
            ).collect()
        }
        print(json.dumps({
            s: {
                "n_keys": int(got[s]["n_keys"]) if s in got else 0,
                "n_rows_old": int(got[s]["n_rows_old"]) if s in got else 0,
                "n_rows_new": int(got[s]["n_rows_new"]) if s in got else 0,
            }
            for s in STATUSES
        }))
        return 0

    if args.diff_schema:
        from .plans.preflight import schema_diff
        from .sources.tables import read_table as _rt

        diff = schema_diff(_rt(spark, args.table), _rt(spark, args.diff_schema))
        print(json.dumps([
            {"column": c, "status": s, "type_a": ta, "type_b": tb}
            for c, s, ta, tb in diff
        ]))
        return 2 if diff else 0

    if args.history:
        from .plans.compare import report_history

        for r in report_history(spark, args.work_dir).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.detect_anomalies:
        from .plans.compare import metric_anomalies

        points = metric_anomalies(
            spark, args.work_dir, k=args.anomaly_k,
            per_check=args.anomaly_per_check,
        )
        for p_ in points:
            print(json.dumps(p_, default=str))
        if not points:
            return 0
        latest = max(p_["finished_at"] for p_ in points)
        return 2 if any(
            p_["flagged"] and p_["finished_at"] == latest for p_ in points
        ) else 0

    if args.compact:
        from .plans.maintenance import compact_violations

        print(json.dumps(
            compact_violations(spark, args.work_dir, vacuum=not args.no_vacuum)
        ))
        return 0

    if args.psi_runs:
        from .plans.compare import psi_between_runs

        lo, hi = args.psi_range if args.psi_range else (None, None)
        rep = psi_between_runs(
            spark, args.work_dir, *args.psi_runs,
            n_buckets=args.psi_buckets, lo=lo, hi=hi,
        )
        print(json.dumps(rep))
        return 2 if rep["psi"] > args.psi_threshold else 0

    if args.compare_runs:
        from .model import BLOCKING_CHECKS
        from .plans.compare import compare_runs

        delta = compare_runs(spark, args.work_dir, *args.compare_runs)
        print(json.dumps(delta, default=str))
        regressed_blocking = any(
            c in BLOCKING_CHECKS and d["delta"] > 0
            for c, d in delta["check_deltas"].items()
        )
        return 2 if regressed_blocking else 0

    if args.suggest_constraints:
        from .operators.constraints import suggest_constraints
        from .sources.tables import read_table as _rt

        rows = suggest_constraints(_rt(spark, args.table)).collect()
        print(json.dumps([
            {"column": r["column"], "constraint": r["constraint"],
             "detail": r["detail"]}
            for r in rows
        ]))
        return 0

    if args.rules_json and args.rules_only:
        from .operators.constraints import verify_constraints
        from .sources.tables import read_table as _rt

        with open(args.rules_json) as fh:
            rules = [(r["column"], r["constraint"], r["detail"])
                     for r in json.load(fh)]
        rows = verify_constraints(_rt(spark, args.table), rules).collect()
        out = [r.asDict() for r in rows]
        print(json.dumps(out, default=str))
        return 0 if all(r["passed"] for r in out) else 2

    if args.profile:
        from .operators.metrics import column_profile
        from .sources.tables import read_table as _rt

        row = column_profile(_rt(spark, args.table)).first()
        print(json.dumps(row.asDict(), default=str))
        return 0

    if args.dataset_card:
        import os

        from .plans.card import dataset_card, render_card_markdown
        from .sources.tables import read_table as _rt

        card = dataset_card(_rt(spark, args.table))
        print(json.dumps(card, default=str))
        if args.card_md:
            os.makedirs(args.card_md, exist_ok=True)
            name = os.path.basename(os.path.normpath(args.table)) or "table"
            with open(os.path.join(args.card_md, f"{name}.md"), "w") as fh:
                fh.write(render_card_markdown(card))
        return 0

    if args.audit_layout:
        from .operators.layout import layout_audit

        rows = layout_audit(
            spark, {args.table: args.table}, small_file_rows=args.small_file_rows
        ).collect()
        out = [r.asDict() for r in rows]
        print(json.dumps(out, default=str))
        return 3 if any(r["n_small_files"] > 0 for r in out) else 0

    if args.audit_skew:
        from .operators.layout import key_skew_audit
        from .sources.tables import read_table as _rt

        rows = key_skew_audit(_rt(spark, args.table), args.audit_skew).collect()
        print(json.dumps([r.asDict() for r in rows], default=str))
        return 0

    kwargs = dict(
        key_col=args.key_col,
        check_extraction=not args.no_extraction,
        n_buckets=args.n_buckets,
        drift_threshold=args.drift_threshold,
        check_uniqueness=not args.no_uniqueness,
        check_referential=not args.no_referential,
        check_drift=not args.no_drift,
        data_unique_cols=tuple(args.data_unique_col),
        baseline_run_id=args.baseline_run_id,
        cat_drift_col=args.cat_drift_col,
        cat_drift_threshold=args.cat_drift_threshold,
        work_dir=args.work_dir,
    )
    if args.run_id:
        kwargs["run_id"] = args.run_id
    if args.rules_json:
        with open(args.rules_json) as fh:
            kwargs["table_rules"] = tuple(
                (r["column"], r["constraint"], r["detail"])
                for r in json.load(fh)
            )
        kwargs["table_rules_blocking"] = args.rules_blocking
        kwargs["grouped_rules"] = args.rules_grouped
    if args.anomaly_gate:
        kwargs["anomaly_gate"] = True
        kwargs["anomaly_k"] = args.anomaly_k
        kwargs["anomaly_blocking"] = args.anomaly_blocking
    if args.quarantine:
        kwargs["quarantine"] = True
    if args.robots:
        kwargs["robots_table"] = read_table(spark, args.robots)
        kwargs["robots_blocking"] = args.robots_blocking
        kwargs["robots_rfc"] = args.robots_rfc
    if args.manifest:
        kwargs["manifest_table"] = read_table(spark, args.manifest)
        kwargs["manifest_blocking"] = args.manifest_blocking
    if args.volume:
        kwargs["volume_monitor"] = True
        kwargs["volume_window"] = args.volume_window
    extra_checks = []
    if args.check_mojibake:
        from .operators.record_checks import mojibake_custom_check

        extra_checks.append(mojibake_custom_check(blocking=args.checks_blocking))
    if args.check_lang_script:
        from .operators.record_checks import lang_script_custom_check

        extra_checks.append(
            lang_script_custom_check(blocking=args.checks_blocking)
        )
    if args.check_blocklist:
        from .operators.record_checks import blocklist_custom_check

        with open(args.check_blocklist) as fh:
            terms = [ln.strip() for ln in fh if ln.strip()]
        extra_checks.append(
            blocklist_custom_check(terms, blocking=args.checks_blocking)
        )
    if extra_checks:
        kwargs["custom_checks"] = tuple(extra_checks)
    if args.sample_pct is not None:
        if args.work_dir:
            parser.error("--sample-pct is incompatible with --work-dir "
                         "(triage runs don't checkpoint)")
        kwargs["sample_pct"] = args.sample_pct
    config = EngineConfig(**kwargs)

    pages = read_table(spark, args.table)
    report = ValidationEngine(spark, config).run(pages)
    if args.report_json:
        report.write_json(args.report_json)
    if args.report_html:
        report.write_html(args.report_html)
    print(json.dumps(report.to_dict(), default=str))
    if report.error_code is not None:
        return 1
    return 0 if report.indexable else 2


if __name__ == "__main__":
    sys.exit(main())
