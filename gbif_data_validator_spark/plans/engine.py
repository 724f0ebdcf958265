"""The staged validation engine — the reference's evaluator chain as
DataFrame passes.

Reference analog: EvaluationChain + DataFileProcessorMaster orchestration
(evaluator/EvaluationChain.java:69-71; processor/DataFileProcessorMaster.java:
128-176): Phase 0 constitution (can stop the chain), Phase 1 fan-out of
metadata / record-collection / per-split record evaluators, Phase 2 collector
merge + IndexableRules verdict. Here the actor fan-out is the Spark
scheduler; the collector merge is Catalyst partial/final aggregation; the
verdict is a filter on the blocking-check set
(evaluator/IndexableRules.java:22-33, reduce :54-61).

Passes (SURVEY.md §7.1), as two independent queries that run at the same
time (the reference fans its evaluators out and merges once,
DataFileProcessorMaster.startAllActors :215-246):
  0 preflight (driver, no jobs)     — short-circuit on blocking findings
  profile pass, on a pool thread under the caller's job group:
  3 profile rollup (1 agg scan)     — per-partition + run-level stats AND
    the KS-drift quantile sketches; drift verdicts computed driver-side
    from the collected (tiny) sketch vectors — no drift scan, no drift job
  violations pass, on the calling thread:
  1 record checks + referential (1 scan; the referential check is an
    `isin` over the dimension's code set, no join)
  2 uniqueness (one hash aggregate, one Exchange; scans the key column only)
  4 report: ONE query (one Exchange on check_id) gives the counts per
    (partition, check) and the distinct-first samples; drift verdicts are
    added driver-side once the profile is joined; then per-partition
    verdicts and checkpoint/lineage rows; resume prunes completed
    partitions.
A default run without a work_dir starts 5 Spark jobs: 2 for the profile
rollup, 3 for the violations report (the uniqueness stage, the report's
shuffle stage, its result stage).

``run`` is the one place that composes this battery. ``run_star`` (a core
table plus extension tables, the reference's DwcDataFile) goes through it
too: the extensions' findings join the violations before the report query.
Invalid config combinations raise before the first Spark job.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import uuid
from collections.abc import Collection
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.sqltext import ident, in_list, string
from ..model import BLOCKING_CHECKS, MAX_SAMPLES_PER_CHECK, CheckId, ValidationReport
from ..operators.drift import (
    categorical_drift,
    categorical_drift_violations,
    merge_quantile_sketches,
)
from ..operators.metrics import partitioned_profile, violation_report
from ..operators.record_checks import CustomCheck, partition_id_sql, run_record_checks
from ..operators.uniqueness import data_uniqueness_violations, uniqueness_violations
from ..sources.lang_dim import ISO_639_1
from . import checkpoint as cp
from .checkpoint import GLOBAL_PARTITION
from .preflight import preflight

#: windows with fewer metric rows than this are excluded from drift — a
#: handful of stray timestamps gives a meaninglessly noisy ECDF (same guard
#: as operators.drift.ks_drift's min_rows default).
DRIFT_MIN_ROWS = 30

#: the KS drift metric (SQL): text length of the rows with a timestamp
DRIFT_METRIC = "CASE WHEN warc_ts IS NOT NULL THEN length(text) END"

#: list lengths of the optional report summaries: host_graph top hosts,
#: key_skew hot keys, robots top offending hosts, volume anomalous buckets,
#: manifest example findings
GRAPH_TOP_K = 10
SKEW_TOP_K = 5
ROBOTS_TOP_K = 5
VOLUME_TOP_K = 5
MANIFEST_MAX_EXAMPLES = 10


def _drift_rows_from_sketches(
    windows: dict, q_ref, threshold: float, min_rows: int = DRIFT_MIN_ROWS
) -> list[tuple]:
    """KS drift verdicts computed driver-side from per-window quantile
    sketches — ``{window_id: (n, q)}`` vs the pooled reference vector —
    violations-schema tuples for the drifted windows. Flag bar =
    max(configured floor, one-sample KS critical value c(α≈0.001)/sqrt(n)),
    matching operators.drift.ks_drift."""
    import math

    from ..operators.drift import ks_statistic

    out: list[tuple] = []
    if q_ref is None:
        return out
    for pid in sorted(windows):
        n, q = windows[pid]
        if (n or 0) < min_rows or q is None:
            continue
        ks = ks_statistic(list(q), list(q_ref))
        bar = max(threshold, 1.95 / math.sqrt(n))
        if ks == ks and ks > bar:  # NaN-safe
            out.append(
                (
                    f"window:{pid}",
                    CheckId.DRIFT_WINDOW,
                    "ks_stat <= threshold",
                    f"{ks:.4f}",
                    {"n": str(n), "window": pid},
                    pid,
                )
            )
    return out


#: partition ids that are warc_ts drift windows: 'yyyy-MM' (n_buckets == 1)
#: and its bucket slices 'yyyy-MM-bK'; UNKNOWN*, GLOBAL and stream:* ids
#: match neither
_MONTH_ID = re.compile(r"(\d{4}-\d{2})")
_BUCKET_ID = re.compile(r"(\d{4}-\d{2})-b(\d+)")


def _window_month(pid: str, n_buckets: int) -> str | None:
    """The 'yyyy-MM' drift window a partition id belongs to: the id itself
    (n_buckets == 1) or its month prefix ('yyyy-MM-bK'). None for ids that
    are not warc_ts windows (UNKNOWN*, GLOBAL, stream:*)."""
    m = (_MONTH_ID if n_buckets <= 1 else _BUCKET_ID).fullmatch(pid)
    return m.group(1) if m else None


#: the profile's equi-probability grid (partitioned_profile n_quantiles=11)
_PROFILE_QS = [i / 10 for i in range(11)]


def _profile_state(row) -> dict:
    """A collected rollup row → the mergeable profile state a checkpoint
    row stores: exact additive counts, HLL binaries, length-quantile
    vectors + weighted averages. Shared by persistence and by the
    incremental whole-table merge so the two can't drift apart."""
    d = row.asDict()
    state = {
        "n_rows": int(d.get("n_rows") or 0),
        "counts": {},
        "hlls": {},
        "len_q": {},
        "len_avg": {},
    }
    for k, v in d.items():
        if k.endswith("_non_blank") or k.endswith("_nulls"):
            state["counts"][k] = int(v or 0)
        elif k.endswith("_hll"):
            if v is not None:
                state["hlls"][k[: -len("_hll")]] = bytes(v)
        elif k.endswith("_len_quantiles"):
            if v is not None:
                state["len_q"][k[: -len("_len_quantiles")]] = [float(x) for x in v]
        elif k.endswith("_len_avg"):
            if v is not None:
                state["len_avg"][k[: -len("_len_avg")]] = float(v)
    return state


def _merge_profile_states(states: list[dict]) -> dict:
    """Whole-table metrics dict from per-window profile states — additive
    counts sum exactly; length quantiles merge via the weighted-ECDF
    average; averages reweight by their non-null counts. HLL distincts are
    NOT merged here (they need one tiny ``hll_union_agg`` job — the caller
    attaches them) — every other stat is pure driver arithmetic."""
    out: dict = {"n_rows": sum(s["n_rows"] for s in states)}
    count_keys = sorted({k for s in states for k in s["counts"]})
    for k in count_keys:
        out[k] = sum(s["counts"].get(k, 0) for s in states)
    len_cols = sorted({c for s in states for c in s["len_q"]})
    for col in len_cols:
        # weight = count of non-null lengths = n_rows - nulls (length(col)
        # is null exactly when col is)
        items, wsum, acc = [], 0, 0.0
        for s in states:
            w = s["n_rows"] - s["counts"].get(f"{col}_nulls", 0)
            if col in s["len_q"]:
                items.append((w, s["len_q"][col]))
            if col in s["len_avg"] and w > 0:
                wsum += w
                acc += w * s["len_avg"][col]
        _, merged_q = merge_quantile_sketches(items, probs=_PROFILE_QS)
        if merged_q is not None:
            out[f"{col}_len_quantiles"] = merged_q
        if wsum > 0:
            out[f"{col}_len_avg"] = acc / wsum
    return out


def _merge_to_months(sketches, n_buckets: int) -> dict:
    """Month-level drift sketches from (possibly bucketed) partition-level
    ``(partition_id, (n, q))`` pairs: 'yyyy-MM-bK' slices of one month merge into one (n, q) via the
    weighted ECDF merge (drift windows are per MONTH regardless of the
    checkpoint bucketing — a per-bucket KS would use a stricter noise bar
    and different window ids). Non-window ids (UNKNOWN*, GLOBAL) drop out."""
    by_month: dict[str, list] = {}
    for pid, (n, q) in sketches:
        month = _window_month(pid, n_buckets)
        if month is not None:
            by_month.setdefault(month, []).append((n or 0, q))
    return {m: merge_quantile_sketches(parts) for m, parts in by_month.items()}


def _fully_completed_months(done: list[str], n_buckets: int) -> list[str]:
    """'yyyy-MM' months whose EVERY partition id is in the prune set: with
    n_buckets == 1 each done month qualifies directly; bucketed schemes
    require all n_buckets slices (a month with one missing bucket must keep
    being scanned — the partition-id filter handles its done slices).
    UNKNOWN / GLOBAL / stream ids never match the month shape."""
    if n_buckets <= 1:
        return sorted(p for p in done if _MONTH_ID.fullmatch(p))
    by_month: dict[str, set[int]] = {}
    for p in done:
        m = _BUCKET_ID.fullmatch(p)
        if m:
            by_month.setdefault(m.group(1), set()).add(int(m.group(2)))
    return sorted(m for m, bs in by_month.items() if bs >= set(range(n_buckets)))


def _month_bounds(months: list[str]) -> list[tuple]:
    """[month-start, next-month-start) datetime bounds for 'yyyy-MM' ids
    (session timezone is UTC — matching the date_format that derived them)."""
    out = []
    for m in months:
        start = _dt.datetime.strptime(m, "%Y-%m")
        nxt = (start.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)
        out.append((start, nxt))
    return out


def prune_completed(pages: DataFrame, done: list[str], n_buckets: int) -> DataFrame:
    """Resume/incremental work-list pruning, in two layers:

    1. correctness filter on the derived ``_partition_id`` — exact, but the
       column is computed, so this predicate alone cannot reach the scan (a
       resumed run would re-READ pruned months and only then discard them);
    2. I/O pruning: fully-completed months re-expressed as ``warc_ts`` RANGE
       predicates on the raw storage column — these push down to the
       parquet/Iceberg scan (PushedFilters → row-group / partition-transform
       pruning), so the resumed run skips the pruned months' BYTES, not just
       their compute. Null-ts rows (UNKNOWN) are explicitly retained, and
       months with only some buckets checkpointed keep relying on layer 1.
    """
    if not done:
        return pages
    work = pages.where(f"NOT {in_list('_partition_id', done)}")
    months = _fully_completed_months(done, n_buckets)
    if months:
        skip = " OR ".join(
            f"(warc_ts >= TIMESTAMP '{start}' AND warc_ts < TIMESTAMP '{end}')"
            for start, end in _month_bounds(months)
        )
        work = work.where(f"warc_ts IS NULL OR NOT ({skip})")
    return work


def _fold_report(rows, drift_tuples: list[tuple], max_samples: int):
    """Collected ``violation_report`` rows plus driver-made DRIFT_WINDOW
    tuples → ``({partition_id: {check_id: n}}, {check_id: n},
    {check_id: [sample]})``. Each drift tuple counts once in its window's
    partition; its
    ``related_data`` names that window, so every tuple is the first of its
    input key and the distinct-first samples are simply the first
    ``max_samples`` by url."""
    by_part: dict[str, dict[str, int]] = {}
    samples: dict[str, list[dict]] = {}
    for r in rows:
        if r.n is not None:
            by_part.setdefault(r.partition_id, {})[r.check_id] = r.n
    for r in sorted(
        (r for r in rows if r.sample_rank <= max_samples),
        key=lambda r: (r.check_id, r.sample_rank),
    ):
        samples.setdefault(r.check_id, []).append(
            {"url": r.url, "expected": r.expected, "found": r.found}
        )
    for _, check_id, _, _, _, pid in drift_tuples:
        cell = by_part.setdefault(pid, {})
        cell[check_id] = cell.get(check_id, 0) + 1
    first = sorted(drift_tuples, key=lambda t: t[0])[:max_samples]
    for url, check_id, expected, found, _, _ in first:
        samples.setdefault(check_id, []).append(
            {"url": url, "expected": expected, "found": found}
        )
    issue_counts: dict[str, int] = {}
    for checks in by_part.values():
        for k, n in checks.items():
            issue_counts[k] = issue_counts.get(k, 0) + n
    return by_part, issue_counts, samples


@dataclass
class EngineConfig:
    """Chain-builder analog (EvaluationChain.Builder,
    evaluator/EvaluationChain.java:69-71): each ``check_*`` toggle is one
    ``evaluate*()`` call of the reference's builder — callers compose the
    chain; disabled passes cost nothing (their scans/shuffles never enter
    the plan). Key uniqueness has no tuning knob: it is one hash aggregate,
    and key skew is reported (``skew_summary``), not configured. A summary
    that needs an input is switched on by it (``robots_table``,
    ``manifest_table``); summary list lengths are module constants
    (``GRAPH_TOP_K`` …). A combination that cannot run raises ValueError
    before the run's first Spark job (``_check_config``)."""

    key_col: str = "url"
    check_extraction: bool = True
    #: A1 uniqueness on key_col (evaluateCoreUniqueness analog)
    check_uniqueness: bool = True
    #: J1/J2 referential: lang in the dimension's code set (evaluateReferentialIntegrity)
    check_referential: bool = True
    #: KS drift over warc_ts windows (north-star extension)
    check_drift: bool = True
    #: A2 data-field uniqueness columns (evaluateDataUniqueness analog):
    #: each listed column gets its own uniqueness pass emitting
    #: DATA_FIELD_NOT_UNIQUE (OCCURRENCE_NOT_UNIQUELY_IDENTIFIED analog)
    data_unique_cols: tuple = ()
    #: Incremental validation: ALSO treat partitions checkpointed by this
    #: earlier run (same work_dir) as done — the append-only-crawl pattern:
    #: a new month of data revalidates only its new warc_ts windows, never
    #: rescanning the already-validated history. The baseline's GLOBAL
    #: checkpoint never transfers: the global passes (uniqueness, drift)
    #: rerun on the full table every incremental run, and their fresh rows
    #: supersede the baseline's (GLOBAL_SCOPE_CHECKS read filter). Requires
    #: the same n_buckets as the baseline run (checked).
    baseline_run_id: str | None = None
    n_buckets: int = 1
    drift_threshold: float = 0.15
    #: categorical column for PSI/chi2 drift per warc_ts window (e.g.
    #: "lang"); None disables the check (default — a disabled pass costs
    #: nothing; enabling adds one narrow 2-column scan)
    cat_drift_col: str | None = None
    cat_drift_threshold: float = 0.2
    max_samples: int = MAX_SAMPLES_PER_CHECK
    #: user-defined Column-algebra rules (operators.record_checks.CustomCheck)
    #: fused into the pass-1 scan; blocking=True ones join the verdict
    #: blocking set (the reference's evaluator set is fixed — this is the
    #: extension surface)
    custom_checks: tuple = ()
    #: exact-duplicate cluster summary in report.metrics["dup_clusters"]
    #: (n_docs/n_distinct/n_dup_clusters/max_cluster/dup_rate); adds one
    #: text-column scan + a digest groupBy when enabled
    cluster_summary: bool = False
    #: host→host link-graph PageRank summary in
    #: report.metrics["host_graph"] (top hosts by reputation); adds one
    #: html-bearing scan + graph_iterations iterative jobs when enabled
    graph_summary: bool = False
    graph_iterations: int = 5
    #: table-level constraint rules ``(column, kind, detail)`` — the Deequ
    #: VerificationSuite face (operators/constraints.py::verify_constraints;
    #: accepts suggest_constraints rows verbatim). When set, ONE extra
    #: conditional-aggregate scan verifies the whole battery and the
    #: results land in report.metrics["table_rules"]. Unlike custom_checks
    #: (row-level, fused into pass 1) these are SET-level rules (UNIQUE,
    #: COMPLETENESS_GE) that no per-row predicate can express.
    table_rules: tuple = ()
    #: additionally evaluate table_rules PER PARTITION WINDOW — the
    #: Deequ-grouped-analyzer face of the reference's per-partition
    #: verdict grain: a rule that passes globally can still fail inside
    #: one crawl month (e.g. one window's lang completeness collapses).
    #: The same scan becomes a rollup on _partition_id whose grand row
    #: gives the table verdicts; report.metrics["grouped_rules"] carries
    #: bounded counts + the failed verdicts (capped, loudly).
    grouped_rules: bool = False
    #: when True, any failed rule flips indexable to False — on the whole
    #: table or, with grouped_rules, in any window (the set-level analog
    #: of a blocking custom check)
    table_rules_blocking: bool = False
    #: score THIS run's violation rate against the work_dir's run history
    #: (plans/compare.py::metric_anomalies, online z-score) right after
    #: its own checkpoint lands; results in report.metrics["anomaly"].
    #: Requires work_dir (the history lives in the lineage table).
    anomaly_gate: bool = False
    anomaly_k: float = 3.0
    anomaly_min_history: int = 3
    #: when True, an anomalous run flips indexable to False — the
    #: "this month's crawl regressed vs history" gate
    anomaly_blocking: bool = False
    #: write the FULL offending rows (every page whose url carries at
    #: least one violation this run) to work_dir/quarantine/<run_id> —
    #: the reprocessing feed: the publishable corpus is pages MINUS the
    #: quarantine, and nothing about a bad row is lost. Requires work_dir.
    quarantine: bool = False
    #: fold the top-k hot keys of key_col (operators/layout.py::
    #: key_skew_audit — counts + corpus share) into
    #: report.metrics["key_skew"] — key skew as a measurement (the
    #: uniqueness aggregate has no skew knob); one extra key-column-only
    #: aggregation pass
    skew_summary: bool = False
    #: robots.txt compliance summary in report.metrics["robots"]: pass a
    #: (host, text) DataFrame of robots snapshots — the engine parses
    #: star-record Disallow rules (operators/robots.py) and counts corpus
    #: pages they prefix-match, with the top offending hosts; one extra
    #: url-column scan. ``robots_blocking`` flips indexable when any page
    #: is blocked — politeness as a verdict input, like a blocking rule.
    robots_table: object = None
    robots_blocking: bool = False
    #: with robots_table: count pages blocked under full RFC 9309
    #: group-member precedence (Allow + Disallow, longest match wins)
    #: instead of the raw Disallow-prefix census — an Allow carve-out
    #: (`Allow: /private/pub/` under `Disallow: /private/`) then stops
    #: counting its pages as violations
    robots_rfc: bool = False
    #: arrival-volume monitor battery in report.metrics["volume"]: the
    #: rate_anomaly control chart, CUSUM change point, Theil–Sen trend +
    #: Mann–Kendall direction, and the dispersion index, all computed from
    #: ONE shared (bucket, n) count table built by a single narrow
    #: warc_ts-column scan (the operators' ``counts`` fast path) — every
    #: pass after that is calendar-bounded. Answers "did volume break,
    #: shift, drift, or change arrival character this run" inside the
    #: validation report itself.
    volume_monitor: bool = False
    volume_window: str = "day"
    #: k-anonymity release gate in report.metrics["k_anonymity"]
    #: (operators/privacy.py::k_anonymity_summary): declare the
    #: quasi-identifier columns an attacker could know and the engine
    #: folds the equivalence-class census to its one-row summary (min_k,
    #: rows_below_k, exact µ-ratio, plus l-diversity when
    #: ``privacy_sensitive_col`` is set). One extra quasi-column-only
    #: groupBy; ``privacy_blocking`` flips indexable when min_k <
    #: privacy_k — "don't publish a re-identifiable table" as a verdict
    #: input, the TABLE-level complement of the PII row redaction.
    privacy_quasi_cols: tuple = ()
    privacy_sensitive_col: str | None = None
    privacy_k: int = 5
    privacy_blocking: bool = False
    #: snapshot-manifest integrity gate: a ``(file, n_rows)`` DataFrame
    #: declaring the table's expected file set, reconciled against the
    #: pages scan's ACTUAL file census (operators/layout.py::
    #: manifest_audit) right after preflight; the bounded summary
    #: (per-class counts + capped examples) lands in
    #: report.metrics["manifest"]. ``manifest_blocking`` short-circuits
    #: the run with error_code=MANIFEST_MISMATCH before any validation
    #: pass — validating rows inside a snapshot whose file set is
    #: already wrong wastes the whole 100-TB scan. Costs one extra
    #: narrow scan (input_file_name() count, zero data columns).
    manifest_table: object = None
    manifest_blocking: bool = False
    #: triage mode: validate only the deterministic md5-bucket hash sample
    #: of pages (operators/sampling.hash_bucket on key_col — so duplicate
    #: keys CO-SAMPLE and the uniqueness rate stays unbiased) and fold
    #: Wilson 95% full-corpus violation-rate estimates per check into
    #: report.metrics["sampling"]. Counts/samples/verdicts in the report
    #: are then sample-scoped; the estimates are the full-corpus claim —
    #: the 100-TB "which checks merit the full pass" mode at pct% of the
    #: scan cost. Incompatible with work_dir: a triage run's checkpoint
    #: lineage would poison full-run resume/incremental semantics.
    sample_pct: int | None = None
    work_dir: str | None = None  # enables persisted violations + checkpoint/resume
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    @property
    def blocking_checks(self) -> frozenset:
        return BLOCKING_CHECKS | {
            cc.check_id for cc in self.custom_checks if cc.blocking
        }

    @property
    def violations_path(self) -> str | None:
        return os.path.join(self.work_dir, "violations") if self.work_dir else None

    @property
    def checkpoint_path(self) -> str | None:
        return os.path.join(self.work_dir, "checkpoint") if self.work_dir else None


def _check_config(c: EngineConfig) -> None:
    """Reject a combination that cannot run, before the run's first Spark
    job: raised after a pass, it would leave violations and checkpoint
    rows behind that a resume then treats as done."""
    for name in ("robots_table", "manifest_table"):
        value = getattr(c, name)
        if value is not None and not isinstance(value, DataFrame):
            raise ValueError(f"{name} must be a DataFrame, got {type(value).__name__}")
    for cc in c.custom_checks:
        if not isinstance(cc, CustomCheck):
            raise ValueError(f"custom_checks items must be CustomCheck, got {type(cc).__name__}")
    if c.grouped_rules and not c.table_rules:
        raise ValueError("grouped_rules=True requires table_rules — the grouped "
                         "pass evaluates the same rule battery per window")
    if c.anomaly_gate and not c.work_dir:
        raise ValueError("anomaly_gate requires work_dir (the run "
                         "history lives in its checkpoint lineage)")
    if c.quarantine and not c.work_dir:
        raise ValueError("quarantine requires work_dir")
    if c.sample_pct is not None and not 0 < c.sample_pct <= 100:
        raise ValueError(f"sample_pct must be in (0, 100], got {c.sample_pct}")
    if c.sample_pct is not None and c.work_dir:
        raise ValueError("sample_pct is incompatible with work_dir: a triage "
                         "run's sample-scoped checkpoints would poison "
                         "full-run resume/incremental lineage")


class ValidationEngine:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()

    # ------------------------------------------------------------------
    def _append_violations(self, violations: DataFrame) -> None:
        """Append rows to ``violations/``, stamped with the writing run:
        global-scope findings (uniqueness/drift — re-derived from the WHOLE
        table each run) are superseded by the current run's copy at read
        time, so an incremental chain never accumulates stale count=N rows."""
        c = self.config
        violations.selectExpr("*", f"{string(c.run_id)} AS _run_id").write.mode(
            "append"
        ).partitionBy("partition_id").parquet(c.violations_path)

    def _read_back_violations(
        self, done: list[str], lineage: cp.Lineage, skip_global: bool
    ) -> DataFrame:
        """The persisted violations that belong in THIS run's report:

        - always: this run's own rows (+ pre-stamping legacy rows);
        - incremental only: record-scoped history from the chain's prior
          runs, and only rows written by the run that is STILL the latest
          validator of a partition this run pruned. A window re-validated
          later (e.g. by a full rerun) has its older runs' rows superseded —
          the finding may have been fixed, and inheriting the stale row
          would poison the counts while the verdict fold reports the window
          as PASS. A fresh full run (no baseline) inherits nothing — it
          re-validated everything itself;
        - never: another run's GLOBAL_SCOPE rows (uniqueness/drift are
          re-derived whole-table each run; fresh rows supersede);
        - DRIFT_WINDOW rows only when the run skips its global passes: every
          other run derives its drift verdicts from the profile's sketches
          and appends them after the report, so a replayed run counts them
          once.

        Replay idempotence: an interrupted run may have appended a
        partition's violations without checkpointing it; the re-run appends
        them again, so reads dedup exact tuples (the map column is not
        set-op comparable → dedup on its JSON form). Explicit schema: a
        fully-clean run writes ZERO violation files (partitionBy of an empty
        DF → only _SUCCESS), and a schema-less read of that directory throws
        UNABLE_TO_INFER_SCHEMA."""
        from ..model import GLOBAL_SCOPE_CHECKS, STAMPED_VIOLATIONS_SCHEMA

        c = self.config
        raw = self.spark.read.schema(STAMPED_VIOLATIONS_SCHEMA).parquet(
            c.violations_path
        )
        keep = f"(_run_id = {string(c.run_id)} OR _run_id IS NULL)"
        if c.baseline_run_id:
            pruned = set(done)
            inherit_keys = [
                f"{pid}\x00{r.run_id}"
                for pid, r in lineage.latest_validations().items()
                if pid in pruned
            ]
            inherited = in_list(
                f"concat_ws({string(chr(0))}, partition_id, _run_id)", inherit_keys
            )
            keep = (
                f"({keep} OR (NOT {in_list('check_id', sorted(GLOBAL_SCOPE_CHECKS))}"
                f" AND {inherited}))"
            )
        if not skip_global:
            keep = f"{keep} AND check_id != {string(CheckId.DRIFT_WINDOW)}"
        # hash-partitioned by check_id up front: the dedup and the report
        # query share that one Exchange
        return (
            raw.where(keep)
            .drop("_run_id")
            .repartition("check_id")
            .selectExpr("*", "to_json(related_data) AS _rd")
            .dropDuplicates(["url", "check_id", "expected", "found", "partition_id", "_rd"])
            .drop("_rd")
        )

    def _merged_metrics(
        self, rc_rows, done: list[str], lineage: cp.Lineage
    ) -> dict | None:
        """Whole-table profile for a resumed/incremental run, reconstituted
        by MERGING: pruned windows contribute their stored profile states
        (latest validator wins), fresh windows theirs. Additive counts and
        quantile merges are pure driver arithmetic; distincts take ONE tiny
        ``hll_union_agg`` job over #windows × #columns KB-sized binaries.
        None when any pruned window lacks stored state (legacy work_dir) —
        the caller keeps the delta-scoped profile."""
        stored = lineage.window_profiles()
        need = [
            p
            for p in done
            if p != GLOBAL_PARTITION and not p.startswith("stream:")
        ]
        if any(p not in stored for p in need):
            return None
        states = [stored[p] for p in need] + [_profile_state(r) for r in rc_rows]
        if not states:
            return {"n_rows": 0}
        merged = _merge_profile_states(states)
        hll_items = [
            (col, s["hlls"][col]) for s in states for col in s["hlls"]
        ]
        if hll_items:
            est = (
                self.spark.createDataFrame(hll_items, "col string, hll binary")
                .groupBy("col")
                .agg(F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("est"))
                .collect()
            )
            for r in est:
                merged[f"{r.col}_approx_distinct"] = int(r.est)
        return merged

    def _drift_verdicts(
        self, rc_rows, grand, done: list[str], lineage: cp.Lineage
    ) -> list[tuple] | None:
        """DRIFT_WINDOW verdict tuples derived entirely from quantile
        sketches — never a second table scan:

        - fresh run: the rollup sketches cover every window; a month's
          bucket sketches merge (weighted ECDF) into its month window (with
          n_buckets == 1 the "merge" of one sketch is that sketch); the
          pooled reference is the grand row's exact single-pass sketch;
        - resumed/incremental run: pruned windows contribute their STORED
          sketches (latest validator wins) merged with the fresh windows';
          the pooled reference is the merge of all window sketches.

        Returns None when stored sketches cannot cover every pruned window
        (a work_dir whose checkpoint rows predate their state columns, or whose
        windows a drift-off run validated) — the caller then sketches the
        whole table (``_rescan_drift``)."""
        c = self.config
        fresh = {
            r["_partition_id"]: (r["drift_n"] or 0, r["drift_q"]) for r in rc_rows
        }
        if not done:
            windows = _merge_to_months(fresh.items(), c.n_buckets)
            q_ref = grand["drift_q"] if grand is not None else None
            return _drift_rows_from_sketches(windows, q_ref, c.drift_threshold)
        need = [p for p in done if _window_month(p, c.n_buckets) is not None]
        stored = lineage.window_sketches()
        if any(p not in stored for p in need):
            return None
        merged = {p: stored[p] for p in need}
        merged.update(fresh)
        windows = _merge_to_months(merged.items(), c.n_buckets)
        _, q_ref = merge_quantile_sketches(windows.values())
        return _drift_rows_from_sketches(windows, q_ref, c.drift_threshold)

    def _window_states(self, rc_rows) -> dict[str, tuple]:
        """partition_id → the state columns of its checkpoint row. MERGEABLE
        state is what makes the engine incremental: a later run
        reconstitutes whole-table metrics and drift verdicts from these
        rows instead of rescanning validated history. Month windows of a
        drift-on run carry their drift sketch; the rest leave it null."""
        c = self.config
        out = {}
        for r in rc_rows:
            pid, s = r["_partition_id"], _profile_state(r)
            drift_n = drift_q = None
            if c.check_drift and _window_month(pid, c.n_buckets) is not None:
                drift_n = int(r["drift_n"] or 0)
                # percentile_approx of an int metric yields ints; the
                # stored vector is array<double>
                if r["drift_q"] is not None:
                    drift_q = [float(v) for v in r["drift_q"]]
            out[pid] = (s["counts"], s["hlls"], s["len_q"], s["len_avg"], drift_n, drift_q)
        return out

    def _rescan_drift(self, pages: DataFrame) -> list[tuple]:
        """Drift verdicts of a fresh run over the whole table: its profile
        rollup's sketches, through ``_drift_verdicts``' fresh branch. The
        one drift scan of the engine, for a work_dir whose stored sketches
        do not cover every pruned window; it profiles no column, so it
        reads only what the drift metric and the partition id need."""
        rows = partitioned_profile(
            pages, "_partition_id", columns=[], drift_metric=DRIFT_METRIC
        ).collect()
        rc_rows = [r for r in rows if r["_partition_id"] is not None]
        grand = next((r for r in rows if r["_partition_id"] is None), None)
        return self._drift_verdicts(rc_rows, grand, [], cp.Lineage())

    def _append_global_passes(self, violations: DataFrame, pages: DataFrame) -> DataFrame:
        """Union the toggled whole-table passes (key uniqueness, A2 data-field
        uniqueness, categorical drift) onto a violations plan. KS drift is
        not here: run() derives it driver-side from the profile's quantile
        sketches (PLANS.md §4)."""
        c = self.config
        if c.check_uniqueness:
            violations = violations.unionByName(
                uniqueness_violations(pages, key_col=c.key_col)
            )
        for dc in c.data_unique_cols:
            violations = violations.unionByName(data_uniqueness_violations(pages, dc))
        if c.cat_drift_col:
            violations = violations.unionByName(
                categorical_drift_violations(
                    categorical_drift(
                        pages, c.cat_drift_col, threshold=c.cat_drift_threshold
                    ),
                    c.cat_drift_col,
                )
            )
        return violations

    # ------------------------------------------------------------------
    def _blocked_report(self, findings) -> ValidationReport:
        """Preflight short-circuit report (ResourceConstitutionEvaluationChain
        analog): every blocking finding counted and sampled — two findings of
        the same check_id are two violations, not one."""
        blocking = [f for f in findings if f.blocking]
        issue_counts: dict[str, int] = {}
        samples: dict[str, list[dict]] = {}
        for f in blocking:
            issue_counts[f.check_id] = issue_counts.get(f.check_id, 0) + 1
            samples.setdefault(f.check_id, []).append(
                {"expected": f.expected, "found": f.found}
            )
        return ValidationReport(
            run_id=self.config.run_id,
            indexable=False,
            n_rows=0,
            n_violations=len(blocking),
            issue_counts=issue_counts,
            samples=samples,
            error_code=CheckId.RESOURCE_INTEGRITY,
        )

    # ------------------------------------------------------------------
    def run_star(
        self,
        core: DataFrame,
        extensions: dict[str, tuple[DataFrame, str]],
        dim: DataFrame | Collection[str] | None = None,
    ) -> ValidationReport:
        """DwcDataFile-shaped run: ``run``'s pass battery on the core table
        plus each extension's empty-key and referential findings
        (plans/star.py::extension_violations), reported per table — the
        reference runs a DwcDataFile through its one evaluator chain and
        reports one ValidationResultElement per rowType
        (api/result/ValidationResultElement.java:32-182). The extension
        findings join the report query, so a check id both sides report
        is counted once per row. They carry "ext:<name>" partition ids;
        ``partition_verdicts`` adds the per-table "core" verdict (FAIL when
        any core partition fails), ``metrics["table_rows"]`` each table's
        row count. ``work_dir`` and ``sample_pct`` raise ValueError before
        any Spark job: extension findings have no checkpoint lineage and
        are never sample-scoped."""
        from .star import extension_violations

        c = self.config
        if c.work_dir or c.sample_pct is not None:
            raise ValueError(
                "run_star supports neither work_dir nor sample_pct: "
                "extension findings have no checkpoint lineage and are "
                "never sample-scoped"
            )
        ext_parts = [f"ext:{name}" for name in extensions]
        report = self._run(
            core, dim, extension_violations(core, extensions, c.key_col), ext_parts
        )
        if report.error_code is not None:
            return report
        verdicts = report.partition_verdicts
        core_fail = any(
            v == "FAIL" for pid, v in verdicts.items() if pid not in ext_parts
        )
        verdicts["core"] = "FAIL" if core_fail else "PASS"
        table_rows = {"core": report.n_rows}
        for pid, (ext, _) in zip(ext_parts, extensions.values()):
            table_rows[pid] = ext.count()
        report.metrics["table_rows"] = table_rows
        return report

    # ------------------------------------------------------------------
    def run(
        self, pages: DataFrame, dim: DataFrame | Collection[str] | None = None
    ) -> ValidationReport:
        return self._run(pages, dim)

    def _run(
        self,
        pages: DataFrame,
        dim: DataFrame | Collection[str] | None,
        ext_violations: DataFrame | None = None,
        ext_partitions: Collection[str] = (),
    ) -> ValidationReport:
        """The one composition of the pass battery. ``run_star`` passes its
        extension findings and their partition ids: they join the report
        query, and each of those partitions gets a verdict."""
        c = self.config
        _check_config(c)
        blocking = c.blocking_checks
        started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)

        # Pass 0 — constitution; blocking finding stops everything
        # (ResourceConstitutionEvaluationChain.java:114-121 analog).
        findings = preflight(pages, key_col=c.key_col)
        if any(f.blocking for f in findings):
            return self._blocked_report(findings)

        # Snapshot-manifest gate (pass 0.5): declared vs actual file set,
        # BEFORE any validation pass — a wrong file set invalidates
        # everything downstream.
        manifest_summary: dict | None = None
        if c.manifest_table is not None:
            manifest_summary = self._manifest_summary(pages)
            if c.manifest_blocking and manifest_summary["n_findings"]:
                return ValidationReport(
                    run_id=c.run_id,
                    indexable=False,
                    n_rows=0,
                    n_violations=manifest_summary["n_findings"],
                    issue_counts={
                        CheckId.MANIFEST_MISMATCH: manifest_summary[
                            "n_findings"
                        ]
                    },
                    samples={
                        CheckId.MANIFEST_MISMATCH: manifest_summary[
                            "examples"
                        ]
                    },
                    metrics={"manifest": manifest_summary},
                    error_code=CheckId.MANIFEST_MISMATCH,
                )

        if c.sample_pct is not None:
            from ..operators.sampling import deterministic_sample

            pages = deterministic_sample(pages, c.key_col, c.sample_pct)

        pages = pages.withColumn(
            "_partition_id",
            F.expr(partition_id_sql("warc_ts", c.n_buckets, ident(c.key_col))),
        )

        # Resume: prune completed partitions BEFORE any scan.
        lineage, done = cp.Lineage(), []
        if c.work_dir:
            # a silent n_buckets mismatch against this work_dir's recorded
            # scheme would prune wrong slices — enforced before any pruning
            cp.ensure_partition_scheme(self.spark, c.work_dir, c.n_buckets)
            # the one read of the lineage table: every lineage question of
            # this run is answered from this driver-side snapshot
            lineage = cp.Lineage.read(self.spark, c.checkpoint_path)
            done = lineage.completed(c.run_id)
            if c.baseline_run_id:
                # fail fast on a typo'd baseline id: its only legitimate use
                # implies the named run checkpointed into this work_dir, and
                # silently proceeding would enable chain-wide incremental
                # semantics against the wrong (or an empty) lineage
                if not lineage.has_run(c.baseline_run_id):
                    raise ValueError(
                        f"baseline_run_id {c.baseline_run_id!r} has no "
                        f"checkpoint rows in work_dir {c.work_dir!r} — "
                        f"refusing to run incrementally against a lineage "
                        f"the named baseline never wrote to"
                    )
                # the work_dir is the table's validation lineage: EVERY
                # window validated by any prior run in the chain is history
                # (a two-step chain C←B←A must prune A's windows too). The
                # per-run GLOBAL checkpoints never transfer: appended data
                # can duplicate keys ACROSS runs, so the global passes
                # rerun in every incremental run.
                history = set(lineage.completed_all_runs()) - {GLOBAL_PARTITION}
                done = sorted(set(done) | history)
        skip_global = GLOBAL_PARTITION in done
        work = prune_completed(pages, done, c.n_buckets)

        # The profile pass (pass 3) and the violations pass (passes 1+2 and
        # the report) are independent queries and run at the same time: the
        # profile collect on a pool thread that inherits this thread's job
        # group, so a kill's cancelJobGroup reaches it. Leaving the `with`
        # waits for the profile: no run returns or raises while its profile
        # job runs. The rollup also carries the drift quantile sketches
        # (only when the drift pass is on — a disabled pass costs nothing);
        # KS drift is computed driver-side from them, with no scan of its own.
        def profile() -> list:
            return partitioned_profile(
                work,
                "_partition_id",
                drift_metric=DRIFT_METRIC if c.check_drift else None,
                # persisted runs carry HLL binaries so later incremental runs
                # can merge this run's windows into a whole-table profile
                mergeable=bool(c.work_dir),
            ).collect()

        with ThreadPoolExecutor(max_workers=1) as pool:
            prof_future = pool.submit(inheritable_thread_target(self.spark)(profile))
            # Passes 1+2 (lazy plan): record checks with the referential
            # check as one more detail slot of the same scan. Global checks
            # (uniqueness over the full key space) must see ALL rows, so
            # they run over `pages`, not the pruned work-list — unless
            # their GLOBAL checkpoint already exists.
            violations = run_record_checks(
                work,
                check_extraction=c.check_extraction,
                n_buckets=c.n_buckets,
                key_col=c.key_col,
                lang_dim=(ISO_639_1 if dim is None else dim)
                if c.check_referential
                else None,
                custom_checks=c.custom_checks,
            )
            if not skip_global:
                violations = self._append_global_passes(violations, pages)
            if ext_violations is not None:
                violations = violations.unionByName(ext_violations)
            if c.violations_path:
                # violations land first (resume-correctness ordering); the
                # report reads the durable copy
                self._append_violations(violations)
                violations = self._read_back_violations(done, lineage, skip_global)
            # Pass 4 — one query yields the per-(partition, check) counts
            # and the distinct-first samples; global issue counts,
            # per-partition verdicts and checkpoint rows are then derived
            # driver-side, the reference's collector merge at the master
            # (CollectorGroup.java:80-141).
            report_rows, quarantine = self._report_rows(violations, pages)
            prof_rows = prof_future.result()

        rc_rows = [r for r in prof_rows if r["_partition_id"] is not None]
        # rollup over EMPTY input yields zero rows (no grand-total row, unlike
        # a plain global agg) — happens on an empty table or a fully-resumed
        # run whose work-list pruned every partition.
        grand = next((r for r in prof_rows if r["_partition_id"] is None), None)
        metrics = (
            {
                k: (list(v) if isinstance(v, list) else v)
                for k, v in grand.asDict().items()
                if k not in ("_partition_id", "drift_q", "drift_n")
                and not k.endswith("_hll")
            }
            if grand is not None
            else {"n_rows": 0}
        )
        metrics["_scope"] = "full_table"
        if done:
            # the profile scan covered only the PRUNED work-list; merge the
            # stored per-window profile states of the pruned windows with
            # the fresh ones into a WHOLE-TABLE profile — no rescan. Only a
            # work_dir whose rows predate their state degrades to the
            # delta-scoped profile (labeled, so a consumer can't mistake it
            # for the whole table).
            merged = self._merged_metrics(rc_rows, done, lineage)
            if merged is not None:
                metrics = merged
                metrics["_scope"] = "full_table_merged"
            else:
                metrics["_scope"] = "incremental_delta"
        if quarantine is not None:
            metrics["quarantine"] = quarantine

        # Drift verdicts are violations-schema tuples made on the driver
        # from the profile's sketches. A run that skips its global passes
        # (a resume after its GLOBAL checkpoint) re-reads the rows it stored
        # instead; every other run derives them afresh, so its read-back
        # dropped the stored ones and its own land in violations/ here.
        drift_tuples: list[tuple] = []
        if c.check_drift and not skip_global:
            drift_tuples = self._drift_verdicts(rc_rows, grand, done, lineage)
            if drift_tuples is None:
                # stored sketches can't cover every pruned window (a legacy
                # work_dir whose checkpoint rows carry no drift sketch): sketch
                # the whole table as a fresh run would
                drift_tuples = self._rescan_drift(pages)
            if c.violations_path and drift_tuples:
                from ..model import VIOLATIONS_SCHEMA

                self._append_violations(
                    self.spark.createDataFrame(drift_tuples, schema=VIOLATIONS_SCHEMA)
                )

        finished = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)

        by_part, issue_counts, samples = _fold_report(
            report_rows, drift_tuples, c.max_samples
        )

        # checkpoint ONLY this run's validated partitions (+ its GLOBAL row):
        # by_part may also hold counts for history partitions read back from
        # the shared store — those belong to the runs that validated them
        part_rows = {r["_partition_id"]: r.n_rows for r in rc_rows}
        ck_counts = {pid: by_part.get(pid, {}) for pid in part_rows}
        ck_nrows = dict(part_rows)
        if not skip_global:
            ck_counts[GLOBAL_PARTITION] = by_part.get(GLOBAL_PARTITION, {})
            ck_nrows.setdefault(GLOBAL_PARTITION, 0)
        for pid in ext_partitions:
            ck_counts[pid] = by_part.get(pid, {})
        cp_tuples = cp.build_checkpoint_tuples(
            c.run_id, ck_counts, ck_nrows, started, finished,
            blocking=c.blocking_checks,
            state=self._window_states(rc_rows) if c.work_dir else None,
        )
        if c.checkpoint_path:
            from ..model import CHECKPOINT_SCHEMA

            cp.append_checkpoints(
                self.spark.createDataFrame(cp_tuples, schema=CHECKPOINT_SCHEMA),
                c.checkpoint_path,
            )

        # verdicts and n_rows: this run's rows (a resumed run's earlier
        # partitions included — the read-back already holds their
        # persisted violations, so issue_counts is complete); an
        # incremental run folds in the chain's history windows
        lineage = lineage.with_checkpoints(cp_tuples)
        verdicts, n_rows = lineage.run_summary(c.run_id, chain=bool(c.baseline_run_id))

        n_violations = sum(issue_counts.values())
        indexable = not any(k in blocking for k in issue_counts)
        # Optional first-class summaries (config-gated like drift — a
        # disabled pass costs nothing; enabling adds its own scans)
        if c.cluster_summary:
            metrics["dup_clusters"] = self._cluster_summary(pages)
        if c.graph_summary and "html" in pages.columns:
            metrics["host_graph"] = self._graph_summary(pages)
        if manifest_summary is not None:
            metrics["manifest"] = manifest_summary
        if c.table_rules:
            metrics.update(self._rules_summary(pages))
            if c.table_rules_blocking and (
                any(not r["passed"] for r in metrics["table_rules"])
                or metrics.get("grouped_rules", {}).get("n_failed")
            ):
                indexable = False
        if c.anomaly_gate:
            metrics["anomaly"] = self._anomaly_summary(lineage)
            if c.anomaly_blocking and metrics["anomaly"]["flagged"]:
                indexable = False
        if c.skew_summary:
            metrics["key_skew"] = self._skew_summary(pages)
        if c.robots_table is not None:
            metrics["robots"] = self._robots_summary(pages)
            if c.robots_blocking and metrics["robots"]["n_blocked"]:
                indexable = False
        if c.volume_monitor:
            metrics["volume"] = self._volume_summary(pages)
        if c.privacy_quasi_cols:
            metrics["k_anonymity"] = self._privacy_summary(pages)
            if (
                c.privacy_blocking
                and metrics["k_anonymity"]["n_rows"]
                and metrics["k_anonymity"]["min_k"] < c.privacy_k
            ):
                indexable = False
        if c.sample_pct is not None:
            metrics["sampling"] = self._sampling_estimates(issue_counts, n_rows)
        return ValidationReport(
            run_id=c.run_id,
            indexable=indexable,
            n_rows=n_rows,
            n_violations=n_violations,
            issue_counts=issue_counts,
            samples=samples,
            metrics=metrics,
            partition_verdicts=verdicts,
        )

    #: above this many distinct offending urls the quarantine semi-join
    #: falls back from broadcast to shuffle (the taxon_match guard
    #: discipline) — 5M urls ≈ a few hundred MB broadcast, the ceiling
    _QUARANTINE_BROADCAST_MAX = 5_000_000

    def _report_rows(self, violations: DataFrame, pages: DataFrame):
        """Collected ``violation_report`` rows, and the quarantine summary
        (None unless configured). The quarantine is the one second reader
        of the violations, so only it caches them."""
        c = self.config
        if not c.quarantine:
            return violation_report(violations, c.max_samples).collect(), None
        violations = violations.persist()
        try:
            rows = violation_report(violations, c.max_samples).collect()
            return rows, self._write_quarantine(pages, violations)
        finally:
            violations.unpersist()

    def _write_quarantine(self, pages: DataFrame, all_violations: DataFrame) -> dict:
        """Full offending rows → ``work_dir/quarantine/<run_id>`` (config:
        ``quarantine``) — every page whose url carries ≥1 violation this
        run. The key set is the DISTINCT urls of the (already bounded)
        violations table; small sets broadcast into a left-semi join so
        the corpus never shuffles, oversized sets fall back to a shuffle
        semi-join rather than a driver OOM. Returns the row count (from
        the written files' footers — no second scan) + path."""
        c = self.config
        # a DRIFT_WINDOW row's url names a window ("window:<id>"), not a page
        bad = (
            all_violations.where(
                F.col("url").isNotNull() & (F.col("check_id") != CheckId.DRIFT_WINDOW)
            )
            .select("url")
            .distinct()
        )
        n_bad = bad.count()  # violations table: bounded, already materialized
        if n_bad <= self._QUARANTINE_BROADCAST_MAX:
            bad = F.broadcast(bad)
        path = os.path.join(c.work_dir, "quarantine", c.run_id)
        # quarantined rows keep the USER's schema — engine-derived helper
        # columns (underscore-prefixed) don't belong in the reprocess feed
        user_cols = [col for col in pages.columns if not col.startswith("_")]
        pages.select(*user_cols).join(bad, "url", "left_semi").write.mode(
            "overwrite"
        ).parquet(path)
        n_rows = self.spark.read.parquet(path).count()  # footer metadata only
        return {"path": path, "n_urls": int(n_bad), "n_rows": int(n_rows)}

    def _robots_summary(self, pages: DataFrame) -> dict:
        """robots.txt compliance folded into the report (config:
        ``robots_table``): star-record Disallow
        rules parsed relationally from the per-host snapshots, corpus
        pages they prefix-match counted at host grain — blocked totals
        plus the top offending hosts, all driver collects bounded by the
        (host-grain) rule table. One url-column scan of the corpus; the
        parse itself touches only the robots table."""
        from ..operators.robots import (
            robots_blocked,
            robots_blocked_rfc,
            robots_rules,
            robots_rules_full,
        )

        c = self.config
        urls = pages.select(F.col(c.key_col).alias("url"))
        if c.robots_rfc:
            rules = robots_rules_full(c.robots_table)
            blocked = robots_blocked_rfc(urls, rules)
        else:
            rules = robots_rules(c.robots_table)
            blocked = robots_blocked(urls, rules)
        census = blocked.groupBy("host").agg(
            F.count(F.lit(1)).alias("n")
        ).persist()
        try:
            totals = census.agg(
                F.coalesce(F.sum("n"), F.lit(0)).alias("n_blocked"),
                F.count(F.lit(1)).alias("n_hosts"),
            ).first()
            top = census.orderBy(F.col("n").desc(), "host").limit(
                ROBOTS_TOP_K
            ).collect()
            n_rules = rules.count()
        finally:
            census.unpersist()
        return {
            "n_rules": int(n_rules),
            "n_blocked": int(totals.n_blocked),
            "n_blocked_hosts": int(totals.n_hosts),
            "top_hosts": [{"host": r.host, "n": int(r.n)} for r in top],
        }

    def _volume_summary(self, pages: DataFrame) -> dict:
        """Arrival-volume monitor battery folded into the report (config:
        ``volume_monitor``): ONE narrow warc_ts scan builds the shared
        (bucket, n) count table (persisted); rate_anomaly / CUSUM /
        Theil–Sen / dispersion then all run over it via their ``counts``
        fast path — four monitors, one corpus scan, every driver collect
        bounded by the calendar (+ VOLUME_TOP_K)."""
        from ..operators.sequence import (
            cusum_changepoint,
            dispersion_census,
            rate_anomaly,
            theil_sen_trend,
        )

        c = self.config
        counts = (
            pages.where(F.col("warc_ts").isNotNull())
            .groupBy(F.date_trunc(c.volume_window, F.col("warc_ts")).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .persist()
        )
        try:
            n_buckets = counts.count()  # materializes the shared table
            if n_buckets == 0:
                return {"window": c.volume_window, "n_buckets": 0}
            anomalies = (
                rate_anomaly(pages, "warc_ts", c.volume_window, counts=counts)
                .where(F.col("is_anomaly"))
                .orderBy(F.col("n").desc(), "bucket")
                .limit(VOLUME_TOP_K)
                .collect()
            )
            change = (
                cusum_changepoint(pages, "warc_ts", c.volume_window, counts=counts)
                .where(F.col("is_change_point"))
                .collect()[0]
            )
            tr = theil_sen_trend(
                pages, "warc_ts", c.volume_window, counts=counts
            ).collect()[0]
            disp = dispersion_census(
                pages, "warc_ts", c.volume_window, counts=counts
            ).collect()[0]
        finally:
            counts.unpersist()
        return {
            "window": c.volume_window,
            "n_buckets": int(n_buckets),
            "anomalous_buckets": [
                {"bucket": str(r.bucket), "n": int(r.n)} for r in anomalies
            ],
            "change_point": {
                "bucket": str(change.bucket),
                "k": int(change.k),
                "cusum_scaled": int(change.cusum_scaled),
                "mean_before_micro": int(change.mean_before_micro),
                "mean_after_micro": (
                    int(change.mean_after_micro)
                    if change.mean_after_micro is not None
                    else None
                ),
            },
            "trend": {
                "slope_micro": (
                    int(tr.slope_micro) if tr.slope_micro is not None else None
                ),
                "mk_s": int(tr.mk_s),
                "direction": tr.trend,
            },
            "dispersion_micro": int(disp.dispersion_micro),
            "mean_micro": int(disp.mean_micro),
        }

    def _anomaly_summary(self, lineage: cp.Lineage) -> dict:
        """This run's own anomaly verdict vs the work_dir's history
        (config: ``anomaly_gate``) — scored over the run's lineage snapshot
        including the checkpoint rows it just wrote, so the history already
        contains this run. One agg over the #partitions lineage, never a
        corpus scan. The warm-up contract is metric_anomalies' own: fewer
        than ``anomaly_min_history`` predecessors never flags."""
        c = self.config
        from ..model import CHECKPOINT_SCHEMA
        from .compare import _anomalies

        cps = self.spark.createDataFrame(lineage.checkpoints, CHECKPOINT_SCHEMA)
        pts = _anomalies(cps, c.anomaly_k, c.anomaly_min_history, None, False)
        mine = next((p for p in pts if p["run_id"] == c.run_id), None)
        if mine is None:  # resume no-op re-run: no fresh checkpoint row
            return {"value": None, "n_prev": len(pts), "mean_prev": None,
                    "std_prev": None, "flagged": False}
        return {k_: mine[k_]
                for k_ in ("value", "n_prev", "mean_prev", "std_prev", "flagged")}

    #: grouped_rules failure list cap — the report stays bounded even if
    #: every (window, rule) verdict fails; the counts are always complete
    _GROUPED_RULES_MAX_FAILURES = 100

    def _manifest_summary(self, pages: DataFrame) -> dict:
        """Snapshot-manifest reconcile (config: ``manifest_table``):
        per-class finding counts (one 3-row agg over the O(#files)
        reconcile) + capped examples — bounded driver state at any
        table size."""
        from ..operators.layout import manifest_audit

        audit = manifest_audit(pages, self.config.manifest_table)
        counts = {
            r["finding"]: int(r["n"])
            for r in audit.groupBy("finding")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        examples = [
            {
                "file": r["file"],
                "finding": r["finding"],
                "n_rows_declared": (
                    int(r["n_rows_declared"])
                    if r["n_rows_declared"] is not None
                    else None
                ),
                "n_rows_actual": (
                    int(r["n_rows_actual"])
                    if r["n_rows_actual"] is not None
                    else None
                ),
            }
            for r in audit.limit(MANIFEST_MAX_EXAMPLES).collect()
        ]
        return {
            "n_findings": sum(counts.values()),
            "counts": counts,
            "examples": examples,
        }

    def _skew_summary(self, pages: DataFrame) -> list[dict]:
        """Top-k hot keys of the record key column (config: ``skew_summary``)
        — the report's measurement of key skew (the input to a join
        strategy, operators/skew.py): one key-only aggregation
        (layout.py::key_skew_audit), driver collects exactly SKEW_TOP_K rows."""
        from ..operators.layout import key_skew_audit

        rows = key_skew_audit(
            pages, self.config.key_col, top_k=SKEW_TOP_K
        ).collect()
        return [
            {
                "key": r["key"],
                "n": int(r["n"]),
                "share": float(r["share"]),
                "n_groups": int(r["n_groups"]),
            }
            for r in rows
        ]

    def _rules_summary(self, pages: DataFrame) -> dict:
        """``table_rules`` verdicts for the report — ONE conditional-aggregate
        scan regardless of rule count, decided by the shared verdict
        projector (operators/constraints.py::rule_verdicts), so they equal
        ``verify_constraints``'s. Rules are the ``(column, kind,
        detail)`` triples it takes, so a ``suggest_constraints`` pass on
        last month's table can gate this month's run verbatim.

        With ``grouped_rules`` the aggregate is a rollup on
        ``_partition_id``: its grand row (``grouping`` = 1) gives the table
        verdicts, the other rows the per-window ones (verdict cardinality =
        #windows × #rules, config-bounded like the checkpoint table).
        ``grouped_rules`` carries complete counts plus at most
        ``_GROUPED_RULES_MAX_FAILURES`` failed verdicts with an explicit
        truncation flag — never an unbounded list."""
        from ..operators.constraints import rule_verdicts, verify_constraints

        c = self.config
        rules = list(c.table_rules)
        table, windows = [], []
        if c.grouped_rules:
            rows = rule_verdicts(
                pages.rollup("_partition_id"),
                ["_grand", "_partition_id"],
                rules,
                F.grouping("_partition_id").alias("_grand"),
            ).collect()
            table = [r for r in rows if r["_grand"]]
            windows = [r for r in rows if not r["_grand"]]
        if not table:
            # no grouped_rules, or a rollup over an empty table (Spark gives
            # it no grand row): the whole-table aggregate alone
            table = verify_constraints(pages, rules).collect()
        keys = ("column", "constraint", "detail", "n_violations", "passed")
        out = {
            "table_rules": [
                {k: r[k] for k in keys}
                for r in sorted(table, key=lambda r: (r["column"], r["constraint"], r["detail"]))
            ]
        }
        if not c.grouped_rules:
            return out
        failed = sorted(
            (r for r in windows if not r["passed"]),
            key=lambda r: (r["_partition_id"], r["column"], r["constraint"]),
        )
        cap = self._GROUPED_RULES_MAX_FAILURES
        out["grouped_rules"] = {
            "n_groups": len({r["_partition_id"] for r in windows}),
            "n_verdicts": len(windows),
            "n_failed": len(failed),
            "failures_truncated": len(failed) > cap,
            "failures": [
                {"partition_id": r["_partition_id"], **{k: r[k] for k in keys[:4]}}
                for r in failed[:cap]
            ],
        }
        return out

    def _cluster_summary(self, pages: DataFrame) -> dict:
        """Exact-duplicate cluster summary folded into the report metrics
        (config: ``cluster_summary``) — the engine-citizen face of
        operators/dedup.py's fingerprint family. One text-column scan, one
        digest groupBy, a 1-row agg; the driver sees five scalars."""
        c = self.config
        groups = (
            pages.select(
                F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("_digest")
            )
            .groupBy("_digest")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        row = groups.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)), F.lit(0)
            ).alias("n_dup_clusters"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("max_cluster"),
        ).first()
        n_docs = int(row["n_docs"])
        return {
            "n_docs": n_docs,
            "n_distinct": int(row["n_distinct"]) if n_docs else 0,
            "n_dup_clusters": int(row["n_dup_clusters"]),
            "max_cluster": int(row["max_cluster"]),
            "dup_rate": (n_docs - int(row["n_distinct"])) / n_docs if n_docs else 0.0,
        }

    def _privacy_summary(self, pages: DataFrame) -> dict:
        """k-anonymity release gate (config: ``privacy_quasi_cols``) —
        operators/privacy.py's one-row summary as engine scalars. One
        quasi-column-only groupBy + fold; the driver sees ≤7 scalars."""
        from ..operators.privacy import k_anonymity_summary

        c = self.config
        row = k_anonymity_summary(
            pages,
            list(c.privacy_quasi_cols),
            k=c.privacy_k,
            sensitive_col=c.privacy_sensitive_col,
        ).first()
        out = {
            "quasi_cols": list(c.privacy_quasi_cols),
            "k": c.privacy_k,
            "n_rows": int(row["n_rows"]),
            "n_classes": int(row["n_classes"]),
            "min_k": int(row["min_k"]) if row["min_k"] is not None else None,
            "rows_below_k": int(row["rows_below_k"]),
            "pct_below_k_micro": (
                int(row["pct_below_k_micro"])
                if row["pct_below_k_micro"] is not None
                else None
            ),
        }
        if c.privacy_sensitive_col is not None:
            out["min_l"] = int(row["min_l"]) if row["min_l"] is not None else None
            out["rows_homogeneous"] = int(row["rows_homogeneous"])
        return out

    def _sampling_estimates(self, issue_counts: dict, sample_n: int) -> dict:
        """Triage-mode estimates (config: ``sample_pct``): Wilson 95%
        full-corpus violation-rate interval per check, computed PURELY
        driver-side from the already-collected counts — the sample filter
        was the only extra plan cost. Each sampled row is treated as one
        Bernoulli trial per check (exact for the at-most-once pass-1
        battery; uniqueness/global rows are per offending key, so their
        rate reads as "offending keys per sampled row"). Rates clamp to
        [0, 1] before the interval so multi-hit counts stay meaningful."""
        import math

        z = 1.96
        z2 = z * z
        estimates = {}
        for check, v in sorted(issue_counts.items()):
            if sample_n <= 0:
                estimates[check] = None
                continue
            nd = float(sample_n)
            phat = min(1.0, float(v) / nd)
            denom = 1.0 + z2 / nd
            center = (phat + z2 / (2.0 * nd)) / denom
            half = (
                z * math.sqrt((phat * (1.0 - phat)) / nd + z2 / (4.0 * (nd * nd)))
            ) / denom
            estimates[check] = {
                "violations": int(v),
                "rate_micro": math.floor(1e6 * phat),
                "wilson_lo_micro": math.floor(1e6 * max(0.0, center - half)),
                "wilson_hi_micro": math.floor(1e6 * min(1.0, center + half)),
            }
        return {
            "pct": self.config.sample_pct,
            "n_buckets": 100,
            "sample_n": int(sample_n),
            "estimates": estimates,
        }

    def _graph_summary(self, pages: DataFrame) -> dict:
        """Host-level link-reputation summary (config: ``graph_summary``) —
        hrefs regex-extracted from ``html`` JVM-side, collapsed to a
        host→host edge list, ranked by operators/graph.py's PageRank.
        Driver collects only ``GRAPH_TOP_K`` rows + two scalars; the edge
        scan is the one html-bearing scan the flag buys."""
        from ..functions.url import url_host
        from ..operators.graph import pagerank

        c = self.config
        src = url_host(F.col(c.key_col))
        href = F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"),
                F.lit(r"""(?i)href\s*=\s*["']([^"']+)["']"""),
                F.lit(1),
            )
        ).alias("_href")
        edges = (
            pages.where(F.col("html").isNotNull())
            .select(src.alias("src"), href)
            .select("src", url_host(F.col("_href")).alias("dst"))
            .where(
                (F.col("src") != "") & (F.col("dst") != "")
                & (F.col("src") != F.col("dst"))
            )
        )
        if edges.limit(1).count() == 0:
            return {"n_hosts": 0, "top_hosts": []}
        ranks = pagerank(edges, iterations=c.graph_iterations)
        top = ranks.orderBy(F.desc("rank"), "vertex").limit(GRAPH_TOP_K).collect()
        return {
            "n_hosts": ranks.count(),
            "top_hosts": [
                {"host": r["vertex"], "rank": float(r["rank"])} for r in top
            ],
        }
