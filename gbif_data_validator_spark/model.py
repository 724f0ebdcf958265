"""Result model: check ids, violations schema, verdict rules.

Mirrors the reference's result model, re-expressed for Spark:

- ``CheckId``        ← EvaluationType catalog
                       (api/model/EvaluationType.java:8-121)
- violations DF      ← RecordEvaluationResult + Details exploded one row
                       per detail (api/model/RecordEvaluationResult.java:17-44,
                       api/model/RecordEvaluationResultDetails.java:16-45)
- BLOCKING_CHECKS    ← IndexableRules blocking set
                       (evaluator/IndexableRules.java:22-33)
- input-values key   ← RecordEvaluationResultDetails.computeInputValuesKey
                       (:78-89) — identity for distinct-first sampling
- ValidationReport   ← ValidationResult / ValidationResultElement
                       (api/result/ValidationResult.java:16-74)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Check catalog (EvaluationType analog). Web-text domain per BASELINE.json
# input_hint; mapping to reference EvaluationTypes noted inline.
# --------------------------------------------------------------------------


class CheckId:
    """Check identifiers. Plain-string class attrs (not Enum) so they can be
    used directly in Spark column expressions and survive serialization."""

    # --- resource structure (pass 0; driver-side) ----------------------
    RESOURCE_INTEGRITY = "RESOURCE_INTEGRITY"              # DWCA_UNREADABLE
    REQUIRED_TERM_MISSING = "REQUIRED_TERM_MISSING"        # same name in ref
    UNKNOWN_TERM = "UNKNOWN_TERM"                          # UNKNOWN_TERM
    COLUMN_TYPE_MISMATCH = "COLUMN_TYPE_MISMATCH"          # meta.xml schema check
    RECORD_IDENTIFIER_NOT_FOUND = "RECORD_IDENTIFIER_NOT_FOUND"  # same in ref
    MANIFEST_MISMATCH = "MANIFEST_MISMATCH"  # snapshot manifest vs actual file set (operators/layout.py::manifest_audit)

    # --- record structure / interpretation (pass 1; narrow) ------------
    KEY_EMPTY = "KEY_EMPTY"                    # empty-id scan, ReferentialIntegrityEvaluator.java:74-86
    RECORD_MALFORMED = "RECORD_MALFORMED"      # unparseable source line (CSV/JSONL corrupt-record capture)
    URL_MALFORMED = "URL_MALFORMED"            # MULTIMEDIA_URI_INVALID / REFERENCES_URI_INVALID
    WARC_TS_INVALID = "WARC_TS_INVALID"        # RECORDED_DATE_INVALID
    WARC_TS_UNLIKELY = "WARC_TS_UNLIKELY"      # RECORDED_DATE_UNLIKELY
    TEXT_EMPTY = "TEXT_EMPTY"                  # COLUMN_MISMATCH-shaped null/shape check
    TEXT_LEN_MISMATCH = "TEXT_LEN_MISMATCH"    # interpreted-vs-verbatim consistency
    TEXT_EXTRACTION_MISMATCH = "TEXT_EXTRACTION_MISMATCH"  # byte-identity invariant (input_hint)
    TEXT_NOT_UTF8 = "TEXT_NOT_UTF8"            # FileNormalizer analog (util/FileNormalizer.java:44-72)

    # --- collection checks (pass 2; wide) -------------------------------
    RECORD_NOT_UNIQUELY_IDENTIFIED = "RECORD_NOT_UNIQUELY_IDENTIFIED"  # UniquenessEvaluator.java:46-74
    DATA_FIELD_NOT_UNIQUE = "DATA_FIELD_NOT_UNIQUE"  # OCCURRENCE_NOT_UNIQUELY_IDENTIFIED, DataUniquenessEvaluator.java:44-93
    LANG_UNKNOWN = "LANG_UNKNOWN"              # RECORD_REFERENTIAL_INTEGRITY_VIOLATION (anti-join, dim direction)
    RECORD_REFERENTIAL_INTEGRITY_VIOLATION = "RECORD_REFERENTIAL_INTEGRITY_VIOLATION"  # same name in ref: extension id ∉ core (star schema)
    DRIFT_WINDOW = "DRIFT_WINDOW"              # new: KS drift over warc_ts windows (north star)
    CATEGORICAL_DRIFT_WINDOW = "CATEGORICAL_DRIFT_WINDOW"  # new: PSI/chi2 categorical drift per window

    # --- metadata content (non-blocking unless noted) -------------------
    LICENSE_MISSING_OR_UNKNOWN = "LICENSE_MISSING_OR_UNKNOWN"  # BasicMetadataEvaluator
    TITLE_TOO_SHORT = "TITLE_TOO_SHORT"
    DESCRIPTION_TOO_SHORT = "DESCRIPTION_TOO_SHORT"


#: Checks that make a run non-indexable — analog of IndexableRules' 11
#: blocking EvaluationTypes (evaluator/IndexableRules.java:22-33).
BLOCKING_CHECKS = frozenset(
    {
        CheckId.RESOURCE_INTEGRITY,
        CheckId.REQUIRED_TERM_MISSING,
        CheckId.COLUMN_TYPE_MISMATCH,
        CheckId.RECORD_IDENTIFIER_NOT_FOUND,
        CheckId.KEY_EMPTY,
        CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED,
        CheckId.DATA_FIELD_NOT_UNIQUE,  # OCCURRENCE_NOT_UNIQUELY_IDENTIFIED is blocking in IndexableRules
        CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION,
        CheckId.LANG_UNKNOWN,
        CheckId.LICENSE_MISSING_OR_UNKNOWN,
    }
)

#: Checks whose findings describe the WHOLE table (or whole windows) rather
#: than one record's content: their rows are re-derived from scratch by every
#: run's global passes, so a later run's rows SUPERSEDE an earlier run's in
#: the shared violations store (e.g. found='count=2' → 'count=3' after an
#: append). Record-scoped findings are append-once (their partitions are
#: pruned on re-runs) and never superseded.
GLOBAL_SCOPE_CHECKS = frozenset(
    {
        CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED,
        CheckId.DATA_FIELD_NOT_UNIQUE,
        CheckId.DRIFT_WINDOW,
        CheckId.CATEGORICAL_DRIFT_WINDOW,
    }
)

#: Violation samples retained per check — DEFAULT_MAX_NUMBER_OF_SAMPLE
#: (collector/RecordEvaluationResultCollector.java:34).
MAX_SAMPLES_PER_CHECK = 10

# --------------------------------------------------------------------------
# Schemas
# --------------------------------------------------------------------------

#: Expected input schema (BASELINE.json input_hint). The reference's analog
#: is the meta.xml-declared Term list (source/DataFileFactory.java:226-248).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

#: Violations output contract (FIXTURES.md F5) — exploded
#: RecordEvaluationResultDetails.
VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("check_id", T.StringType()),
        T.StructField("expected", T.StringType()),
        T.StructField("found", T.StringType()),
        T.StructField("related_data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("partition_id", T.StringType()),
    ]
)

#: The persisted violations store's rows: the contract plus the writing run.
STAMPED_VIOLATIONS_SCHEMA = T.StructType(
    list(VIOLATIONS_SCHEMA.fields) + [T.StructField("_run_id", T.StringType())]
)

#: Checkpoint / lineage row (FIXTURES.md F4).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("violations_by_check", T.MapType(T.StringType(), T.LongType())),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
    ]
)

#: Per-window column-profile state (companion to the checkpoint table):
#: everything needed to reconstitute the whole-table profile by MERGING —
#: exact additive counts, HLL sketch binaries (datasketches, unioned via
#: ``hll_union_agg``) for distincts, and equi-probability length-quantile
#: vectors (merged via the weighted-ECDF average). Incremental runs report
#: a full-table profile from these rows without rescanning pruned windows.
PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("hlls", T.MapType(T.StringType(), T.BinaryType())),
        T.StructField("len_q", T.MapType(T.StringType(), T.ArrayType(T.DoubleType()))),
        T.StructField("len_avg", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("finished_at", T.TimestampType()),
    ]
)

#: Per-window drift-sketch row (companion to the checkpoint table): the
#: equi-probability quantile sketch + metric count the KS drift pass derived
#: for one warc_ts partition. Incremental runs merge the stored sketches of
#: pruned windows with the fresh windows' sketches instead of rescanning the
#: whole table for drift — the sketch IS the partition's drift state, and
#: quantile sketches merge associatively (weighted ECDF average).
SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("drift_n", T.LongType()),
        T.StructField("drift_q", T.ArrayType(T.DoubleType())),
        T.StructField("finished_at", T.TimestampType()),
    ]
)


# --------------------------------------------------------------------------
# Report model (ValidationResult analog)
# --------------------------------------------------------------------------


@dataclass
class ValidationReport:
    """Run-level verdict — analog of ValidationResult
    (api/result/ValidationResult.java:16-74) with its per-element issue
    counts + samples folded in.
    """

    run_id: str
    indexable: bool
    n_rows: int
    n_violations: int
    issue_counts: dict[str, int] = field(default_factory=dict)
    samples: dict[str, list[dict[str, Any]]] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)
    partition_verdicts: dict[str, str] = field(default_factory=dict)
    error_code: str | None = None

    def to_dict(self) -> dict[str, Any]:
        return {
            "run_id": self.run_id,
            "indexable": self.indexable,
            "n_rows": self.n_rows,
            "n_violations": self.n_violations,
            "issue_counts": self.issue_counts,
            "samples": self.samples,
            "metrics": self.metrics,
            "partition_verdicts": self.partition_verdicts,
            "error_code": self.error_code,
        }

    def write_json(self, path: str) -> None:
        """S9 JSON result sink analog (jobserver/impl/FileJobStorage.java:
        53-133): persist the run report as {run_id}.json under ``path``."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{self.run_id}.json"), "w") as f:
            json.dump(self.to_dict(), f, indent=2, default=str)

    def to_html(self) -> str:
        """Self-contained single-file HTML rendering of the report — the
        human face the reference serves through its validator web UI
        (validator-ws renders ValidationResult JSON); here a dependency-
        free stdlib render so a run's artifact opens from any file
        browser. All dynamic text is HTML-escaped."""
        import html
        import json as _json

        esc = html.escape
        verdict = (
            "ERROR: " + esc(str(self.error_code))
            if self.error_code
            else ("INDEXABLE" if self.indexable else "NOT INDEXABLE")
        )
        color = "#b00" if (self.error_code or not self.indexable) else "#070"
        rows = "".join(
            f"<tr><td>{esc(k)}</td><td class='num'>{v}</td></tr>"
            for k, v in sorted(self.issue_counts.items())
        ) or "<tr><td colspan='2'>no violations</td></tr>"
        parts = "".join(
            f"<tr><td>{esc(p)}</td><td class='{ 'ok' if s == 'PASS' else 'bad'}'>"
            f"{esc(s)}</td></tr>"
            for p, s in sorted(self.partition_verdicts.items())
        ) or "<tr><td colspan='2'>none</td></tr>"
        sample_rows = []
        for check, items in sorted(self.samples.items()):
            for it in items:
                sample_rows.append(
                    "<tr><td>%s</td><td>%s</td><td>%s</td><td>%s</td></tr>"
                    % (
                        esc(check),
                        esc(str(it.get("url", ""))),
                        esc(str(it.get("expected", ""))),
                        esc(str(it.get("found", ""))),
                    )
                )
        samples = "".join(sample_rows) or "<tr><td colspan='4'>none</td></tr>"
        metrics = esc(_json.dumps(self.metrics, indent=2, default=str, sort_keys=True))
        return f"""<!doctype html>
<html><head><meta charset="utf-8"><title>validation {esc(self.run_id)}</title>
<style>
 body {{ font: 14px/1.45 system-ui, sans-serif; margin: 2em; color: #222; }}
 h1 {{ font-size: 1.3em; }} h2 {{ font-size: 1.05em; margin-top: 1.6em; }}
 table {{ border-collapse: collapse; margin-top: .4em; }}
 td, th {{ border: 1px solid #ccc; padding: .25em .6em; text-align: left; }}
 td.num {{ text-align: right; font-variant-numeric: tabular-nums; }}
 td.ok {{ color: #070; }} td.bad {{ color: #b00; }}
 .verdict {{ font-weight: 700; color: {color}; }}
 pre {{ background: #f6f6f6; padding: .8em; overflow-x: auto; }}
</style></head><body>
<h1>Validation report <code>{esc(self.run_id)}</code> —
 <span class="verdict">{verdict}</span></h1>
<p>{self.n_rows:,} rows · {self.n_violations:,} violations</p>
<h2>Issue counts</h2>
<table><tr><th>check</th><th>n</th></tr>{rows}</table>
<h2>Partition verdicts</h2>
<table><tr><th>partition</th><th>status</th></tr>{parts}</table>
<h2>Samples</h2>
<table><tr><th>check</th><th>url</th><th>expected</th><th>found</th></tr>
{samples}</table>
<h2>Metrics</h2>
<pre>{metrics}</pre>
</body></html>
"""

    def write_html(self, path: str) -> None:
        """Persist the HTML rendering as {run_id}.html under ``path``
        (beside `write_json`'s machine artifact)."""
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{self.run_id}.html"), "w") as f:
            f.write(self.to_html())
