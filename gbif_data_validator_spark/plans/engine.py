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

Passes (SURVEY.md §7.1), arranged as THREE scans of the source total:
  0 preflight (driver, no jobs)     — short-circuit on blocking findings
  3 profile rollup (1 agg scan)     — per-partition + run-level stats AND
    the KS-drift quantile sketches; drift verdicts computed driver-side
    from the collected (tiny) sketch vectors — no drift scan, no drift job
  1 record checks + referential (1 scan: narrow checks + broadcast left
    join against the lang dim, fused)
  2 uniqueness (salted two-phase agg; scans the key column only)
  4 report: counts, distinct-first samples, per-partition verdicts,
    checkpoint/lineage rows; resume prunes completed partitions.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import BLOCKING_CHECKS, CheckId, ValidationReport
from ..operators.drift import (
    categorical_drift,
    categorical_drift_violations,
    drift_violations,
    ks_drift,
    merge_quantile_sketches,
)
from ..operators.metrics import issue_counts_by_partition, partitioned_profile
from ..operators.record_checks import partition_id_col, run_record_checks
from ..operators.sampling import distinct_first_samples
from ..operators.uniqueness import data_uniqueness_violations, uniqueness_violations
from ..sources.lang_dim import lang_dim
from . import checkpoint as cp
from .checkpoint import GLOBAL_PARTITION
from .preflight import preflight

#: windows with fewer metric rows than this are excluded from drift — a
#: handful of stray timestamps gives a meaninglessly noisy ECDF (same guard
#: as operators.drift.ks_drift's min_rows default).
DRIFT_MIN_ROWS = 30


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


def _drift_rows_from_profile(
    rc_rows, grand, threshold: float, min_rows: int = DRIFT_MIN_ROWS
) -> list[tuple]:
    """Fast-path wrapper: per-window sketches straight off the collected
    rollup rows, pooled reference = the grand row's (exact single-pass)
    sketch."""
    q_ref = grand["drift_q"] if grand is not None else None
    windows = {
        r["_partition_id"]: (r["drift_n"] or 0, r["drift_q"]) for r in rc_rows
    }
    return _drift_rows_from_sketches(windows, q_ref, threshold, min_rows)


_MONTH_RE = None  # compiled lazily in _window_month


def _window_month(pid: str, n_buckets: int) -> str | None:
    """The 'yyyy-MM' drift window a partition id belongs to: the id itself
    (n_buckets == 1) or its month prefix ('yyyy-MM-bK'). None for ids that
    are not warc_ts windows (UNKNOWN*, GLOBAL, stream:*)."""
    import re

    global _MONTH_RE
    if _MONTH_RE is None:
        _MONTH_RE = (
            re.compile(r"(\d{4}-\d{2})"),
            re.compile(r"(\d{4}-\d{2})-b\d+"),
        )
    m = (_MONTH_RE[0] if n_buckets <= 1 else _MONTH_RE[1]).fullmatch(pid)
    return m.group(1) if m else None


#: the profile's equi-probability grid (partitioned_profile n_quantiles=11)
_PROFILE_QS = [i / 10 for i in range(11)]


def _profile_state(row) -> dict:
    """A collected rollup row → the mergeable profile state the PROFILE
    table stores: exact additive counts, HLL binaries, length-quantile
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


def _merge_to_months(sketches: dict, n_buckets: int) -> dict:
    """Month-level drift sketches from (possibly bucketed) partition-level
    ones: 'yyyy-MM-bK' slices of one month merge into one (n, q) via the
    weighted ECDF merge (drift windows are per MONTH regardless of the
    checkpoint bucketing — a per-bucket KS would use a stricter noise bar
    and different window ids). Non-window ids (UNKNOWN*, GLOBAL) drop out."""
    by_month: dict[str, list] = {}
    for pid, (n, q) in sketches.items():
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
    import re

    if n_buckets <= 1:
        return sorted(p for p in done if re.fullmatch(r"\d{4}-\d{2}", p))
    by_month: dict[str, set[int]] = {}
    for p in done:
        m = re.fullmatch(r"(\d{4}-\d{2})-b(\d+)", p)
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
    work = pages.where(~F.col("_partition_id").isin(list(done)))
    months = _fully_completed_months(done, n_buckets)
    if months:
        skip = None
        for start, end in _month_bounds(months):
            clause = (F.col("warc_ts") >= F.lit(start)) & (F.col("warc_ts") < F.lit(end))
            skip = clause if skip is None else (skip | clause)
        work = work.where(F.col("warc_ts").isNull() | ~skip)
    return work


@dataclass
class EngineConfig:
    """Chain-builder analog (EvaluationChain.Builder,
    evaluator/EvaluationChain.java:69-71): each ``check_*`` toggle is one
    ``evaluate*()`` call of the reference's builder — callers compose the
    chain; disabled passes cost nothing (their scans/shuffles never enter
    the plan)."""

    key_col: str = "url"
    check_extraction: bool = True
    #: A1 salted uniqueness on key_col (evaluateCoreUniqueness analog)
    check_uniqueness: bool = True
    #: J1/J2 broadcast referential vs the lang dim (evaluateReferentialIntegrity)
    check_referential: bool = True
    #: KS drift over warc_ts windows (north-star extension)
    check_drift: bool = True
    #: A2 data-field uniqueness columns (evaluateDataUniqueness analog):
    #: each listed column gets its own salted uniqueness pass emitting
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
    n_salt: int = 16
    drift_threshold: float = 0.15
    #: categorical column for PSI/chi2 drift per warc_ts window (e.g.
    #: "lang"); None disables the check (default — keeps the engine at its
    #: 3-scan budget; enabling adds one narrow 2-column scan)
    cat_drift_col: str | None = None
    cat_drift_threshold: float = 0.2
    max_samples: int = 10
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
    graph_top_k: int = 10
    #: table-level constraint rules ``(column, kind, detail)`` — the Deequ
    #: VerificationSuite face (operators/constraints.py::verify_constraints;
    #: accepts suggest_constraints rows verbatim). When set, ONE extra
    #: conditional-aggregate scan verifies the whole battery and the
    #: results land in report.metrics["table_rules"]. Unlike custom_checks
    #: (row-level, fused into pass 1) these are SET-level rules (UNIQUE,
    #: COMPLETENESS_GE) that no per-row predicate can express.
    table_rules: tuple = ()
    #: when True, any failed table rule flips indexable to False (the
    #: set-level analog of a blocking custom check)
    table_rules_blocking: bool = False
    #: additionally evaluate table_rules PER PARTITION WINDOW
    #: (operators/constraints.py::verify_constraints_by on _partition_id)
    #: — the Deequ-grouped-analyzer face of the reference's per-partition
    #: verdict grain: a rule that passes globally can still fail inside
    #: one crawl month (e.g. one window's lang completeness collapses).
    #: One extra grouped-aggregate scan; report.metrics["grouped_rules"]
    #: carries bounded counts + the failed verdicts (capped, loudly).
    grouped_rules: bool = False
    #: when True, any failed per-window rule flips indexable to False
    grouped_rules_blocking: bool = False
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
    #: report.metrics["key_skew"] — the salting/AQE decision input as an
    #: engine citizen; one extra key-column-only aggregation pass
    skew_summary: bool = False
    skew_summary_top_k: int = 5
    #: robots.txt compliance summary in report.metrics["robots"]: pass a
    #: (host, text) DataFrame of robots snapshots (``robots_table``) and
    #: enable ``robots_summary`` — the engine parses star-record Disallow
    #: rules (operators/robots.py) and counts corpus pages they
    #: prefix-match, with the top offending hosts; one extra url-column
    #: scan. ``robots_blocking`` flips indexable when any page is
    #: blocked — politeness as a verdict input, like a blocking rule.
    robots_summary: bool = False
    robots_table: object = None
    robots_blocking: bool = False
    robots_top_k: int = 5
    #: with robots_summary: count pages blocked under full RFC 9309
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
    volume_top_k: int = 5
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
    manifest_max_examples: int = 10
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

    @property
    def sketch_path(self) -> str | None:
        return os.path.join(self.work_dir, "sketches") if self.work_dir else None

    @property
    def profile_path(self) -> str | None:
        return os.path.join(self.work_dir, "profiles") if self.work_dir else None


class ValidationEngine:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()

    # ------------------------------------------------------------------
    def build_violations(self, pages: DataFrame, dim: DataFrame) -> DataFrame:
        """Passes 1+2 as one lazy plan: record checks (with the referential
        check fused into the same scan as a broadcast left join) ∪ salted
        uniqueness ∪ drift verdicts (unionByName on the violations contract —
        reference U1 mergeOnFilename,
        api/result/ValidationResultElement.java:103-117)."""
        c = self.config
        out = run_record_checks(
            pages,
            check_extraction=c.check_extraction,
            n_buckets=c.n_buckets,
            key_col=c.key_col,
            lang_dim=dim if c.check_referential else None,
            custom_checks=c.custom_checks,
        )
        out = self._append_global_passes(out, pages)
        if c.check_drift:
            out = out.unionByName(
                drift_violations(ks_drift(pages, threshold=c.drift_threshold))
            )
        return out

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

        - fresh run, n_buckets == 1: rollup sketches cover every window and
          the grand row IS the pooled reference (zero extra jobs);
        - fresh bucketed run: the month's bucket sketches merge (weighted
          ECDF) into month windows; pooled reference is still the grand
          row's exact single-pass sketch;
        - resumed/incremental run: pruned windows contribute their STORED
          sketches (latest validator wins) merged with the fresh windows';
          the pooled reference is the merge of all window sketches.

        Returns None when stored sketches cannot cover every pruned window
        (work_dir predating sketch checkpointing) — the caller falls back to
        the full windowed drift scan."""
        c = self.config
        if not done and c.n_buckets == 1:
            return _drift_rows_from_profile(rc_rows, grand, c.drift_threshold)
        fresh = {
            r["_partition_id"]: (r["drift_n"] or 0, r["drift_q"]) for r in rc_rows
        }
        if not done:
            windows = _merge_to_months(fresh, c.n_buckets)
            q_ref = grand["drift_q"] if grand is not None else None
            return _drift_rows_from_sketches(windows, q_ref, c.drift_threshold)
        need = [p for p in done if _window_month(p, c.n_buckets) is not None]
        stored = lineage.window_sketches()
        if any(p not in stored for p in need):
            return None
        merged = {p: stored[p] for p in need}
        merged.update(fresh)
        windows = _merge_to_months(merged, c.n_buckets)
        _, q_ref = merge_quantile_sketches(windows.values())
        return _drift_rows_from_sketches(windows, q_ref, c.drift_threshold)

    def _append_global_passes(self, violations: DataFrame, pages: DataFrame) -> DataFrame:
        """Union the toggled whole-table passes (key uniqueness, A2 data-field
        uniqueness, categorical drift) onto a violations plan. Shared by
        build_violations and run() so toggle semantics can't diverge; KS
        drift is NOT here because the two callers evaluate it differently
        (run() reuses the rollup sketches driver-side — PLANS.md §4)."""
        c = self.config
        if c.check_uniqueness:
            violations = violations.unionByName(
                uniqueness_violations(pages, key_col=c.key_col, n_salt=c.n_salt)
            )
        for dc in c.data_unique_cols:
            violations = violations.unionByName(
                data_uniqueness_violations(pages, dc, n_salt=c.n_salt)
            )
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
        dim: DataFrame | None = None,
    ) -> ValidationReport:
        """DwcDataFile-shaped run: the FULL pass battery on the core table
        plus per-extension referential integrity (plans/star.py), reported
        per table — the reference's one-ValidationResultElement-per-rowType
        model (api/result/ValidationResultElement.java:32-182; per-rowType
        actors DataFileProcessorMaster.java:223-228). Core findings keep
        their warc_ts-window partitions; star findings carry "core" /
        "ext:<name>" partition ids, so partition_verdicts reads as the
        per-table element list."""
        from .star import validate_star

        c = self.config
        blocking = c.blocking_checks
        findings = preflight(core, key_col=c.key_col)
        if any(f.blocking for f in findings):
            return self._blocked_report(findings)
        dim = dim if dim is not None else lang_dim(self.spark)
        violations = (
            self.build_violations(core, dim)
            .unionByName(validate_star(core, extensions, core_key=c.key_col))
            .persist()
        )
        vc_rows = issue_counts_by_partition(violations).collect()
        issue_counts: dict[str, int] = {}
        by_part: dict[str, dict[str, int]] = {}
        for r in vc_rows:
            by_part.setdefault(r.partition_id, {})[r.check_id] = r.n
            issue_counts[r.check_id] = issue_counts.get(r.check_id, 0) + r.n
        # per-table row counts: core + one count() per (small number of) tables
        n_rows = core.count()
        table_rows = {"core": n_rows}
        for name, (ext, _) in extensions.items():
            table_rows[f"ext:{name}"] = ext.count()
        verdicts = {
            pid: "FAIL" if any(k in blocking for k in checks) else "PASS"
            for pid, checks in sorted(by_part.items())
        }
        # the CORE battery's findings carry warc_ts-window / GLOBAL partition
        # ids, not "core" — the per-TABLE core verdict is the reduce over all
        # non-extension partitions (else a failing core would read core: PASS)
        core_fail = any(
            v == "FAIL" for pid, v in verdicts.items() if not pid.startswith("ext:")
        )
        verdicts["core"] = "FAIL" if core_fail else verdicts.get("core", "PASS")
        for pid in table_rows:
            verdicts.setdefault(pid, "PASS")
        samples_rows = distinct_first_samples(violations, c.max_samples).collect()
        samples: dict[str, list[dict]] = {}
        for r in sorted(samples_rows, key=lambda r: (r.check_id, r.sample_rank)):
            samples.setdefault(r.check_id, []).append(
                {"url": r.url, "expected": r.expected, "found": r.found}
            )
        violations.unpersist()
        return ValidationReport(
            run_id=c.run_id,
            indexable=not any(k in blocking for k in issue_counts),
            n_rows=n_rows,
            n_violations=sum(issue_counts.values()),
            issue_counts=issue_counts,
            samples=samples,
            metrics={"table_rows": table_rows},
            partition_verdicts=verdicts,
        )

    # ------------------------------------------------------------------
    def run(self, pages: DataFrame, dim: DataFrame | None = None) -> ValidationReport:
        c = self.config
        blocking = c.blocking_checks
        started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        dim = dim if dim is not None else lang_dim(self.spark)

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
            if not 0 < c.sample_pct <= 100:
                raise ValueError(
                    f"sample_pct must be in (0, 100], got {c.sample_pct}"
                )
            if c.work_dir:
                raise ValueError(
                    "sample_pct is incompatible with work_dir: a triage "
                    "run's sample-scoped checkpoints would poison "
                    "full-run resume/incremental lineage"
                )
            from ..operators.sampling import deterministic_sample

            pages = deterministic_sample(pages, c.key_col, c.sample_pct)

        pages = pages.withColumn(
            "_partition_id",
            partition_id_col(F.col("warc_ts"), c.n_buckets, F.col(c.key_col)),
        )

        # Resume: prune completed partitions BEFORE any scan.
        lineage, done = cp.Lineage(), []
        if c.work_dir:
            # a silent n_buckets mismatch against this work_dir's recorded
            # scheme would prune wrong slices — enforced before any pruning
            cp.ensure_partition_scheme(self.spark, c.work_dir, c.n_buckets)
            # the one read of the lineage tables: every lineage question of
            # this run is answered from this driver-side snapshot
            lineage = cp.Lineage.read(
                self.spark, c.checkpoint_path, c.profile_path, c.sketch_path
            )
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

        # Pass 3 FIRST — it has no dependency on the violations and its
        # rollup carries the drift quantile sketches, so KS drift costs no
        # extra scan: ONE aggregation job emits per-partition n_rows/stats,
        # the grand-total run profile, AND the per-window + pooled drift
        # sketches; the KS max-gap is then computed driver-side over the
        # collected (tiny: #partitions × N_PROBS floats) vectors.
        # drift sketches ride the rollup only when the drift pass is on —
        # the chain-builder contract says a disabled pass costs nothing
        drift_metric = (
            F.when(F.col("warc_ts").isNotNull(), F.length(F.col("text")))
            if c.check_drift
            else None
        )
        prof_rows = partitioned_profile(
            work,
            "_partition_id",
            drift_metric=drift_metric,
            # persisted runs carry HLL binaries so later incremental runs
            # can merge this run's windows into a whole-table profile
            mergeable=bool(c.work_dir),
        ).collect()
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
            # work_dir predating profile checkpointing degrades to the
            # delta-scoped profile (labeled, so a consumer can't mistake it
            # for the whole table).
            merged = self._merged_metrics(rc_rows, done, lineage)
            if merged is not None:
                metrics = merged
                metrics["_scope"] = "full_table_merged"
            else:
                metrics["_scope"] = "incremental_delta"

        # Persist this run's per-window profile states — MERGEABLE drift/
        # profile state is what makes the whole engine incremental: a later
        # run reconstitutes whole-table metrics and drift verdicts from
        # these rows instead of rescanning validated history. Tiny writes
        # (#windows rows); written before the checkpoint rows, so a
        # checkpointed window always has its state on disk.
        if c.profile_path and rc_rows:
            pf_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            pf_tuples = []
            for r in rc_rows:
                s = _profile_state(r)
                pf_tuples.append(
                    (
                        c.run_id,
                        r["_partition_id"],
                        s["n_rows"],
                        s["counts"],
                        s["hlls"],
                        s["len_q"],
                        s["len_avg"],
                        pf_ts,
                    )
                )
            cp.append_profiles(self.spark, pf_tuples, c.profile_path)
        if c.check_drift and c.sketch_path and rc_rows:
            sk_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            cp.append_sketches(
                self.spark,
                [
                    (
                        c.run_id,
                        r["_partition_id"],
                        int(r["drift_n"] or 0),
                        # percentile_approx of an int metric yields ints;
                        # the stored vector is array<double>
                        [float(v) for v in r["drift_q"]]
                        if r["drift_q"] is not None
                        else None,
                        sk_ts,
                    )
                    for r in rc_rows
                    if _window_month(r["_partition_id"], c.n_buckets) is not None
                ],
                c.sketch_path,
            )

        # Passes 1+2 (lazy plan). The referential check is FUSED into the
        # record-check scan (broadcast left join + null-flag detail — same
        # broadcast-hash-join mechanics, one source scan instead of two).
        # Global checks (uniqueness over the full key space, drift across
        # all windows) must see ALL rows, so they run over `pages`, not the
        # pruned work-list — unless their GLOBAL checkpoint already exists.
        violations = run_record_checks(
            work,
            check_extraction=c.check_extraction,
            n_buckets=c.n_buckets,
            key_col=c.key_col,
            lang_dim=dim if c.check_referential else None,
            custom_checks=c.custom_checks,
        )
        if not skip_global:
            # whole-table passes run over `pages`, not the pruned work-list
            violations = self._append_global_passes(violations, pages)
            if c.check_drift:
                drift_tuples = self._drift_verdicts(rc_rows, grand, done, lineage)
                if drift_tuples is None:
                    # stored sketches can't cover every pruned window (a
                    # legacy work_dir written before sketch checkpointing) —
                    # fall back to the full month-windowed drift pass.
                    violations = violations.unionByName(
                        drift_violations(
                            ks_drift(pages, threshold=c.drift_threshold)
                        )
                    )
                elif drift_tuples:
                    from ..model import VIOLATIONS_SCHEMA

                    violations = violations.unionByName(
                        self.spark.createDataFrame(
                            drift_tuples, schema=VIOLATIONS_SCHEMA
                        )
                    )

        # Persist violations FIRST (resume-correctness ordering), then
        # derive everything else from the durable copy.
        if c.violations_path:
            # rows are stamped with the writing run: global-scope findings
            # (uniqueness/drift — re-derived from the WHOLE table each run)
            # are superseded by the current run's copy at read time, so an
            # incremental chain never accumulates stale count=N rows.
            violations.withColumn("_run_id", F.lit(c.run_id)).write.mode(
                "append"
            ).partitionBy("partition_id").parquet(c.violations_path)
            # replay idempotence: an interrupted run may have appended a
            # partition's violations without checkpointing it; the re-run
            # appends them again, so reads dedup exact tuples (map column is
            # not set-op comparable → dedup on its JSON form).
            # explicit schema: a fully-clean run writes ZERO violation files
            # (partitionBy of an empty DF → only _SUCCESS), and a schema-less
            # read of that directory throws UNABLE_TO_INFER_SCHEMA
            from ..model import GLOBAL_SCOPE_CHECKS, STAMPED_VIOLATIONS_SCHEMA

            raw = self.spark.read.schema(STAMPED_VIOLATIONS_SCHEMA).parquet(
                c.violations_path
            )
            # which persisted rows belong in THIS run's report:
            #  - always: this run's own rows (+ pre-stamping legacy rows)
            #  - incremental only: record-scoped history from the chain's
            #    prior runs, and only rows written by the run that is STILL
            #    the latest validator of a partition this run pruned. A
            #    window re-validated later (e.g. by a full rerun) has its
            #    older runs' rows superseded — the finding may have been
            #    fixed, and inheriting the stale row would poison the counts
            #    while the verdict fold reports the window as PASS. A fresh
            #    full run (no baseline) inherits nothing — it re-validated
            #    everything itself.
            #  - never: another run's GLOBAL_SCOPE rows (uniqueness/drift are
            #    re-derived whole-table each run; fresh rows supersede).
            keep = (F.col("_run_id") == c.run_id) | F.col("_run_id").isNull()
            if c.baseline_run_id:
                pruned = set(done)
                inherit_keys = [
                    f"{pid}\x00{r.run_id}"
                    for pid, r in lineage.latest_validations().items()
                    if pid in pruned
                ]
                keep = keep | (
                    (~F.col("check_id").isin(sorted(GLOBAL_SCOPE_CHECKS)))
                    & F.concat_ws(
                        "\x00", F.col("partition_id"), F.col("_run_id")
                    ).isin(inherit_keys)
                )
            raw = raw.where(keep).drop("_run_id")
            all_violations = (
                raw.withColumn("_rd", F.to_json("related_data"))
                .dropDuplicates(["url", "check_id", "expected", "found", "partition_id", "_rd"])
                .drop("_rd")
            )
        else:
            all_violations = violations

        # Pass 4 — every consumer of the violations reads ONE cached copy:
        # ONE aggregation job yields the per-(partition, check) counts, and
        # everything downstream — global issue counts, per-partition
        # verdicts, checkpoint rows — is derived driver-side from that tiny
        # result (#partitions × #checks rows), the reference's collector
        # merge at the master (CollectorGroup.java:80-141); distinct-first
        # samples and the quarantine's offending urls reuse the cache.
        all_violations = all_violations.persist()
        try:
            vc_rows = issue_counts_by_partition(all_violations).collect()
            samples_rows = distinct_first_samples(all_violations, c.max_samples).collect()
            if c.quarantine:
                metrics["quarantine"] = self._write_quarantine(pages, all_violations)
        finally:
            all_violations.unpersist()
        finished = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)

        part_rows = {r["_partition_id"]: r.n_rows for r in rc_rows}
        by_part: dict[str, dict[str, int]] = {}
        issue_counts: dict[str, int] = {}
        for r in vc_rows:
            by_part.setdefault(r.partition_id, {})[r.check_id] = r.n
            issue_counts[r.check_id] = issue_counts.get(r.check_id, 0) + r.n

        # checkpoint ONLY this run's validated partitions (+ its GLOBAL row):
        # by_part may also hold counts for history partitions read back from
        # the shared store — those belong to the runs that validated them
        ck_counts = {pid: by_part.get(pid, {}) for pid in part_rows}
        ck_nrows = dict(part_rows)
        if not skip_global:
            ck_counts[GLOBAL_PARTITION] = by_part.get(GLOBAL_PARTITION, {})
            ck_nrows.setdefault(GLOBAL_PARTITION, 0)
        cp_tuples = cp.build_checkpoint_tuples(
            c.run_id, ck_counts, ck_nrows, started, finished,
            blocking=c.blocking_checks,
        )
        if c.checkpoint_path:
            from ..model import CHECKPOINT_SCHEMA

            cp.append_checkpoints(
                self.spark.createDataFrame(cp_tuples, schema=CHECKPOINT_SCHEMA),
                c.checkpoint_path,
            )

        samples: dict[str, list[dict]] = {}
        for r in sorted(samples_rows, key=lambda r: (r.check_id, r.sample_rank)):
            samples.setdefault(r.check_id, []).append(
                {"url": r.url, "expected": r.expected, "found": r.found}
            )
        # verdicts and n_rows: this run's rows (a resumed run's earlier
        # partitions included — all_violations already holds their
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
            metrics["table_rules"] = self._table_rules_summary(pages)
            if c.table_rules_blocking and any(
                not r["passed"] for r in metrics["table_rules"]
            ):
                indexable = False
        if c.grouped_rules:
            if not c.table_rules:
                raise ValueError(
                    "grouped_rules=True requires table_rules — the grouped "
                    "pass evaluates the same rule battery per window"
                )
            metrics["grouped_rules"] = self._grouped_rules_summary(pages)
            if c.grouped_rules_blocking and metrics["grouped_rules"]["n_failed"]:
                indexable = False
        if c.anomaly_gate:
            metrics["anomaly"] = self._anomaly_summary(lineage)
            if c.anomaly_blocking and metrics["anomaly"]["flagged"]:
                indexable = False
        if c.skew_summary:
            metrics["key_skew"] = self._skew_summary(pages)
        if c.robots_summary:
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

    def _write_quarantine(self, pages: DataFrame, all_violations: DataFrame) -> dict:
        """Full offending rows → ``work_dir/quarantine/<run_id>`` (config:
        ``quarantine``) — every page whose url carries ≥1 violation this
        run. The key set is the DISTINCT urls of the (already bounded)
        violations table; small sets broadcast into a left-semi join so
        the corpus never shuffles, oversized sets fall back to a shuffle
        semi-join rather than a driver OOM. Returns the row count (from
        the written files' footers — no second scan) + path."""
        import os as _os

        c = self.config
        if not c.work_dir:
            raise ValueError("quarantine requires work_dir")
        bad = all_violations.where(F.col("url").isNotNull()).select("url").distinct()
        n_bad = bad.count()  # violations table: bounded, already materialized
        if n_bad <= self._QUARANTINE_BROADCAST_MAX:
            bad = F.broadcast(bad)
        path = _os.path.join(c.work_dir, "quarantine", c.run_id)
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
        ``robots_summary`` + ``robots_table``): star-record Disallow
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
        if c.robots_table is None:
            raise ValueError("robots_summary requires robots_table "
                             "((host, text) robots.txt snapshots)")
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
                c.robots_top_k
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
        bounded by the calendar (+ top_k)."""
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
                .limit(c.volume_top_k)
                .collect()
            )
            cp = (
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
                "bucket": str(cp.bucket),
                "k": int(cp.k),
                "cusum_scaled": int(cp.cusum_scaled),
                "mean_before_micro": int(cp.mean_before_micro),
                "mean_after_micro": (
                    int(cp.mean_after_micro)
                    if cp.mean_after_micro is not None
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
        if not c.work_dir:
            raise ValueError("anomaly_gate requires work_dir (the run "
                             "history lives in its checkpoint lineage)")
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

    def _table_rules_summary(self, pages: DataFrame) -> list[dict]:
        """Set-level rule battery folded into the report metrics (config:
        ``table_rules``) — one conditional-aggregate scan regardless of
        rule count; the driver sees one row per rule. Rules are the
        ``(column, kind, detail)`` triples ``verify_constraints`` takes,
        so a ``suggest_constraints`` pass on last month's table can gate
        this month's run verbatim."""
        from ..operators.constraints import verify_constraints

        rows = verify_constraints(pages, list(self.config.table_rules)).collect()
        return [
            {
                "column": r["column"],
                "constraint": r["constraint"],
                "detail": r["detail"],
                "n_violations": int(r["n_violations"]),
                "passed": bool(r["passed"]),
            }
            for r in rows
        ]

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
            for r in audit.limit(self.config.manifest_max_examples).collect()
        ]
        return {
            "n_findings": sum(counts.values()),
            "counts": counts,
            "examples": examples,
        }

    def _skew_summary(self, pages: DataFrame) -> list[dict]:
        """Top-k hot keys of the record key column (config: ``skew_summary``)
        — the report's answer to "should this table's joins/aggs be salted":
        one key-only aggregation (layout.py::key_skew_audit), driver
        collects exactly top_k rows."""
        from ..operators.layout import key_skew_audit

        rows = key_skew_audit(
            pages, self.config.key_col, top_k=self.config.skew_summary_top_k
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

    def _grouped_rules_summary(self, pages: DataFrame) -> dict:
        """``table_rules`` evaluated per partition window (config:
        ``grouped_rules``) — ONE grouped conditional-aggregate scan on
        ``_partition_id`` (verify_constraints_by), verdict cardinality =
        #windows × #rules, which is config-bounded (months × n_buckets),
        so a single collect is as bounded as the checkpoint table itself.
        The report carries complete counts plus at most
        ``_GROUPED_RULES_MAX_FAILURES`` failed verdicts with an explicit
        truncation flag — never an unbounded list."""
        from ..operators.constraints import verify_constraints_by

        rows = verify_constraints_by(
            pages, list(self.config.table_rules), ["_partition_id"]
        ).collect()
        failed = sorted(
            (r for r in rows if not r["passed"]),
            key=lambda r: (r["_partition_id"], r["column"], r["constraint"]),
        )
        cap = self._GROUPED_RULES_MAX_FAILURES
        return {
            "n_groups": len({r["_partition_id"] for r in rows}),
            "n_verdicts": len(rows),
            "n_failed": len(failed),
            "failures_truncated": len(failed) > cap,
            "failures": [
                {
                    "partition_id": r["_partition_id"],
                    "column": r["column"],
                    "constraint": r["constraint"],
                    "detail": r["detail"],
                    "n_violations": int(r["n_violations"]),
                }
                for r in failed[:cap]
            ],
        }

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
        Driver collects only ``graph_top_k`` rows + two scalars; the edge
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
        top = ranks.orderBy(F.desc("rank"), "vertex").limit(c.graph_top_k).collect()
        return {
            "n_hosts": ranks.count(),
            "top_hosts": [
                {"host": r["vertex"], "rank": float(r["rank"])} for r in top
            ],
        }
