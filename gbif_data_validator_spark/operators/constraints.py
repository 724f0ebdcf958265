"""Constraint discovery + dependency checks — the data-quality-rule face
of the validation engine.

The reference validates against a FIXED rule set (its evaluation chain,
core/EvaluationChain.java via api/model/EvaluationType.java); production
validation systems (Deequ's ConstraintSuggestion, Great Expectations'
profilers) additionally *discover* the rules a table already satisfies and
check *set-level* dependencies no per-row predicate can express. The
operators:

- ``fd_violations``: functional-dependency check — LHS columns that map to
  more than one distinct RHS value. One shuffle (map-side partial agg on
  the LHS key); output is one bounded row per violating LHS group, never
  per input row.
- ``mask_profile``: format-mask census (``Clerk#000000001`` →
  ``Aaaaa#999999999``) — the classic profiler primitive for spotting
  format drift in string columns. Pure Column regex algebra into one
  groupBy; masks are low-cardinality by construction so the shuffle is
  tiny.
- ``suggest_constraints``: Deequ-style suggestion pass. Pass 1 is ONE
  aggregation scan collecting a single bounded row (counts, nulls,
  distincts, min/max per column); IN-set details run a second scan
  restricted to columns *proven* low-cardinality by pass 1, so no
  unbounded ``collect_set`` ever executes. At 100 TB the exact
  ``countDistinct`` fan-out is the cost knob — ``exact=False`` switches to
  HLL sketches (one pass, constant state) at the price of approximate
  UNIQUE detection.
- ``verify_constraints``: Deequ VerificationSuite analog — a declared (or
  suggested) rule list verified in ONE conditional-aggregate scan.
- ``benford_deviation`` / ``iqr_outlier_rows``: numeric-conformance checks
  (first-digit law; Tukey fences with exact, oracle-checkable percentile
  bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def fd_violations(
    df: DataFrame, lhs_cols: list[str], rhs_col: str
) -> DataFrame:
    """Groups of ``lhs_cols`` whose rows carry >1 distinct ``rhs_col``
    value → ``(*lhs, n_rows, n_rhs_distinct, rhs_min, rhs_max)``.

    NULL RHS values are ignored for distinctness (SQL ``COUNT(DISTINCT)``
    semantics, identical in Spark and DuckDB); NULL LHS groups are kept —
    a null key that maps to two departments is still a violation worth
    seeing. Single shuffle on the LHS key with map-side partial
    aggregation; the result is bounded by the number of *violating
    groups*, not rows."""
    return (
        df.groupBy(*[F.col(c) for c in lhs_cols])
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(rhs_col).alias("n_rhs_distinct"),
            F.min(rhs_col).alias("rhs_min"),
            F.max(rhs_col).alias("rhs_max"),
        )
        .where(F.col("n_rhs_distinct") > 1)
    )


def fd_strength(
    df: DataFrame, lhs_cols: list[str], rhs_col: str
) -> DataFrame:
    """How strongly the functional dependency ``lhs_cols → rhs_col``
    holds → ONE row ``(lhs, rhs, n_rows, n_groups, n_violating_groups,
    n_kept, g3_micro)``. ``g3`` is the standard approximate-FD measure
    (Kivinen–Mannila): the minimum fraction of rows to DELETE so the FD
    holds exactly — ``n_kept`` keeps each group's plurality RHS value,
    ``g3 = (n_rows − n_kept) / n_rows``. ``fd_violations`` lists WHICH
    groups break the rule; this says HOW BROKEN it is, the number a
    curator thresholds ("source determines lang for 98.7% of rows — the
    tail is mislabeled") and run-over-run drift tracks.

    NULL RHS rows are excluded (COUNT-DISTINCT semantics, matching
    ``fd_violations``); NULL LHS groups are kept. ``g3_micro`` is exact
    integer floor division ``(1e6 · (n_rows − n_kept)) div n_rows`` —
    bit-portable, no float fold. Plan: two hash aggs, both at GROUP
    grain after the first map-combinable (lhs, rhs) count — full rows
    shuffle never, and the second shuffle carries one row per (lhs,
    rhs) pair, bounded by value combinations, not table size."""
    pair = (
        df.where(F.col(rhs_col).isNotNull())
        .groupBy(*[F.col(c) for c in lhs_cols], F.col(rhs_col))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    grp = pair.groupBy(*[F.col(c) for c in lhs_cols]).agg(
        F.sum("_n").alias("_rows"),
        F.max("_n").alias("_kept"),
        F.count(F.lit(1)).alias("_n_rhs"),
    )
    return grp.agg(
        F.sum("_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("_n_rhs") > 1, 1)).alias("n_violating_groups"),
        F.sum("_kept").alias("n_kept"),
    ).select(
        F.lit(",".join(lhs_cols)).alias("lhs"),
        F.lit(rhs_col).alias("rhs"),
        "n_rows",
        "n_groups",
        "n_violating_groups",
        "n_kept",
        F.expr("(1000000 * (n_rows - n_kept)) div n_rows").alias("g3_micro"),
    )


#: ASCII mask classes: uppercase → A, lowercase → a, digit → 9. Non-ASCII
#: and punctuation pass through verbatim (they ARE the format).
def mask_expr(col: F.Column) -> F.Column:
    m = F.regexp_replace(col, "[A-Z]", "A")
    m = F.regexp_replace(m, "[a-z]", "a")
    return F.regexp_replace(m, "[0-9]", "9")


def mask_profile(df: DataFrame, col: str, max_masks: int = 50) -> DataFrame:
    """Format-mask census for one string column →
    ``(mask, n_rows, n_values, example)``, most frequent first
    (ties broken by mask for a deterministic cut at ``max_masks``).

    ``example`` is the MIN raw value under the mask — deterministic, no
    sampling. NULLs are excluded (they are a completeness finding, not a
    format). The groupBy key is the mask, whose cardinality is bounded by
    the column's format diversity (typically tens), so the shuffle state
    is trivial at any table size."""
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(mask_expr(F.col(col)).alias("mask"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(col).alias("n_values"),
            F.min(col).alias("example"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("mask"))
        .limit(max_masks)
    )


def benford_deviation(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law →
    ``(digit, n_rows, frac, expected, abs_dev)``, one row per digit 1-9.

    The classic conformance check for organically-grown numeric columns
    (amounts, populations, file sizes): a large deviation flags synthetic,
    truncated, or defaulted data. The digit is extracted from the STRING
    form (first ``[1-9]`` match) rather than ``floor(x / 10^floor(log10 x))``
    — the string path is immune to libm log10 rounding at decade
    boundaries, so two engines agree bit-exactly. One scan into a 9-key
    groupBy; fractions rounded to 6 dp (the engine-portable quantization).
    Rows with no nonzero digit (NULL, 0, NaN) are excluded."""
    digit = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    counted = (
        df.where(F.col(col).isNotNull())
        .select(digit.alias("digit"))
        .where(F.col("digit") != "")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = F.sum("n_rows").over(Window.partitionBy())
    expected = F.round(F.log10(F.lit(1) + F.lit(1) / F.col("digit").cast("double")), 6)
    frac = F.round(F.col("n_rows") / total, 6)
    return counted.select(
        "digit",
        "n_rows",
        frac.alias("frac"),
        expected.alias("expected"),
        F.round(F.abs(frac - expected), 6).alias("abs_dev"),
    ).orderBy("digit")


def iqr_outlier_rows(
    df: DataFrame, col: str, k: float = 1.5, id_cols: list[str] | None = None
) -> DataFrame:
    """Rows whose ``col`` falls outside ``[q1 - k·IQR, q3 + k·IQR]`` →
    ``(*id_cols, col, lo, hi)`` — the Tukey-fence numeric-plausibility
    check (Great Expectations' expect_column_values_to_be_between with
    discovered bounds).

    Exact ``percentile`` (linear interpolation, identical in DuckDB's
    ``quantile_cont``) so the bounds are oracle-checkable; fences rounded
    to 6 dp before comparison so both engines cut at the same value. Plan:
    one stats agg → 1-row broadcast crossJoin → one filter scan (two scans
    total). At 100 TB swap the stats agg for ``percentile_approx`` — same
    shape, single-pass sketch, approximate fences (documented knob, not
    the oracle path)."""
    c = F.col(col)
    stats = df.agg(
        F.percentile(c, F.lit(0.25)).alias("_q1"),
        F.percentile(c, F.lit(0.75)).alias("_q3"),
    )
    bounds = stats.select(
        F.round(F.col("_q1") - k * (F.col("_q3") - F.col("_q1")), 6).alias("lo"),
        F.round(F.col("_q3") + k * (F.col("_q3") - F.col("_q1")), 6).alias("hi"),
    )
    keep = id_cols if id_cols is not None else [x for x in df.columns if x != col]
    return (
        df.crossJoin(F.broadcast(bounds))
        .where((c < F.col("lo")) | (c > F.col("hi")))
        .select(*keep, col, "lo", "hi")
    )


def _parse_fresh(detail: str) -> tuple[int, int]:
    """FRESH_WITHIN detail ``"NOW_ISO|max_lag_seconds"`` → (now_us,
    max_lag_us). The ISO instant is read as UTC (the engine's session
    timezone), so the epoch both engines compute agrees."""
    import datetime as _dt

    now_s, lag_s = detail.rsplit("|", 1)
    now = _dt.datetime.fromisoformat(now_s).replace(tzinfo=_dt.timezone.utc)
    return int(now.timestamp() * 1_000_000), int(float(lag_s) * 1_000_000)


def verify_constraints(
    df: DataFrame, constraints: list[tuple[str, str, str]]
) -> DataFrame:
    """Verify a declared constraint list against a table in ONE aggregation
    scan → ``(column, constraint, detail, n_violations, passed)`` — the
    Deequ VerificationSuite analog, closing the loop with
    ``suggest_constraints`` (whose output rows are accepted verbatim:
    ``[(r.column, r.constraint, r.detail) for r in suggestions]``).

    Violation semantics (all NULL-handling matches ANSI SQL so the result
    is oracle-checkable):

    - ``NOT_NULL`` — n_violations = null count.
    - ``COMPLETENESS_GE p`` — n_violations = null count, but ``passed``
      compares the observed non-null ratio (Spark ``round`` to 6 dp,
      HALF_UP) against ``p``.
    - ``UNIQUE`` — n_violations = non-null count − distinct count (extra
      duplicate rows; NULLs ignored, COUNT DISTINCT semantics).
    - ``RANGE lo..hi`` — non-null values outside the closed envelope.
    - ``IN_SET v1,v2,…`` — non-null values whose string form is not in
      the set.
    - ``MATCHES regex`` — non-null values whose string form does not
      contain a match (RLIKE / regexp_matches partial-match semantics;
      anchor with ^$ for full-match — Deequ PatternMatch analog).
    - ``LENGTH_BETWEEN lo..hi`` — non-null values whose string-form
      length falls outside the closed envelope.
    - ``JSON_KEY path:TYPE`` — non-null values whose JSON payload lacks
      ``path`` or whose extracted scalar fails a TRY_CAST to ``TYPE``
      (``$.k:BIGINT``) — declared-schema validation for semi-structured
      columns, streamable like the counting kinds.
    - ``QUANTILE_BETWEEN q:lo..hi`` — rule-level check: the exact
      ``percentile(col, q)`` (≡ DuckDB ``quantile_cont``) must land in
      the closed envelope; n_violations is 0 or 1 (the quantile itself),
      and an all-NULL column passes vacuously. Still the same single
      scan — ``percentile`` is just one more aggregate in the battery
      (``percentile_approx`` is the documented 100 TB knob).
    - ``CORR_BETWEEN ycol:lo..hi`` — relationship rule: the exact-moment
      Pearson r of (col, ycol) (``correlation_exact`` discipline —
      DECIMAL(38,0) sums, order-independent) must land in the closed
      envelope; pairwise-complete rows only, degenerate (zero-variance)
      passes vacuously; n_violations 0 or 1. Unlike UNIQUE and
      QUANTILE_BETWEEN the state is six bounded sums, so this kind also
      rides the grouped AND streaming faces.
    - ``MIN_BETWEEN / MAX_BETWEEN lo..hi`` — Deequ hasMin/hasMax: the
      exact extremum (round 6) must land in the closed envelope;
      n_violations 0 or 1, all-NULL passes vacuously. Streamable.
    - ``MEAN_BETWEEN / SUM_BETWEEN lo..hi`` — Deequ hasMean/hasSum with
      the ``correlation_exact`` discipline: values quantize to 10^6-grain
      DECIMAL(38,0) so the sum is exact and order-independent (a naive
      double SUM drifts across partitionings and wouldn't hash-check);
      all-NULL passes vacuously. Streamable.
    - ``N_ROWS_BETWEEN lo..hi`` — table-level row-count envelope (GE
      expect_table_row_count_to_be_between); the column field is
      conventionally ``"*"``. Streamable.
    - ``FRESH_WITHIN "NOW_ISO|max_lag_seconds"`` — the newest value of a
      timestamp column must be within the lag budget of the
      DETERMINISTIC 'now' the caller pins (no wall clock). Unlike every
      other envelope kind an empty/all-NULL column FAILS — silence is
      staleness, the exact condition a freshness rule exists to catch.
      Streamable.
    - ``COMPLIANCE_GE "SQL_predicate|p"`` — Deequ Compliance: the
      fraction of rows satisfying the predicate must reach ``p``; NULL
      predicate results count as non-compliant; n_violations = the
      non-compliant rows. The column field is descriptive ('*' by
      convention). Streamable.
    - ``UNIQUE_RATIO_GE p`` — Deequ uniqueValueRatio: distinct/non-null
      must reach ``p``; n_violations stays the UNIQUE-style extra
      duplicate count. NOT streamable (exact distinct).

    Plan shape: every constraint compiles to one conditional aggregate in
    a single ``df.agg`` — one scan, no joins, no shuffles beyond the final
    1-row reduce — and the shared verdict projector
    (``rule_verdict_structs``) turns that one row into the result table
    JVM-side: this is ``verify_constraints_by`` with no group columns, so
    the whole-table, grouped, streaming and engine faces decide every
    verdict with the same Column algebra. Ratios and observed values are
    rounded to 6 dp by Spark ``round`` (HALF_UP, as DuckDB's ``ROUND``)."""
    return verify_constraints_by(df, constraints, []).orderBy(
        "column", "constraint", "detail"
    )


def suggest_constraints(
    df: DataFrame,
    cols: list[str] | None = None,
    max_set: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Discover the constraints the table currently satisfies →
    ``(column, constraint, detail)`` rows, one per suggestion:

    - ``NOT_NULL`` — zero nulls observed; else ``COMPLETENESS_GE`` with
      the observed non-null ratio (rounded to 6 dp) as detail.
    - ``UNIQUE`` — distinct == non-null count (key candidate).
    - ``RANGE`` — numeric columns: ``min..max`` observed envelope.
    - ``LENGTH_BETWEEN`` — string columns: observed ``min..max`` length
      envelope (nulls excluded), verifiable by the same-named rule kind.
    - ``IN_SET`` — ≤ ``max_set`` distinct values: the sorted value list.

    Plan shape: pass 1 is one aggregation scan → ONE collected row
    (bounded: 4 scalars per column). IN-set values need the actual
    distinct sets, which are only safe to materialize once pass 1 has
    *proven* cardinality ≤ ``max_set`` — those columns get a second scan
    with ``collect_set`` whose result is ≤ ``max_set × n_cols`` strings.
    With ``exact=False`` pass 1 uses HLL distincts (cheaper at 100 TB) and
    UNIQUE/IN_SET decisions become approximate; IN-set still verifies the
    true set size before emitting."""
    from pyspark.sql.types import StringType

    spark: SparkSession = df.sparkSession
    cols = cols or [c for c in df.columns if c not in ("html",)]
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    }
    strings = {
        f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
    }

    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"{c}_nn"))
        aggs.append(
            (F.countDistinct(c) if exact else F.approx_count_distinct(c)).alias(
                f"{c}_nd"
            )
        )
        aggs.append(F.min(c).cast("string").alias(f"{c}_min"))
        aggs.append(F.max(c).cast("string").alias(f"{c}_max"))
        if c in strings:
            aggs.append(F.min(F.length(F.col(c))).alias(f"{c}_lmin"))
            aggs.append(F.max(F.length(F.col(c))).alias(f"{c}_lmax"))
    stats = df.agg(*aggs).first()  # bounded: one row, 4 scalars/column

    small = [
        c
        for c in cols
        if 0 < stats[f"{c}_nd"] <= max_set and stats[f"{c}_nd"] < stats[f"{c}_nn"]
    ]
    in_sets: dict[str, str] = {}
    if small:
        row = df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c).cast("string"))).alias(c)
                for c in small
            ]
        ).first()
        for c in small:
            vals = row[c]
            if len(vals) <= max_set:  # re-verify under exact=False sketches
                in_sets[c] = ",".join(vals)

    out: list[tuple[str, str, str]] = []
    n = stats["_n"]
    for c in cols:
        nn, nd = stats[f"{c}_nn"], stats[f"{c}_nd"]
        if n > 0 and nn == n:
            out.append((c, "NOT_NULL", ""))
        elif n > 0:
            out.append((c, "COMPLETENESS_GE", f"{round(nn / n, 6):.6f}"))
        if nn > 0 and nd == nn:
            out.append((c, "UNIQUE", ""))
        if c in numeric and nn > 0:
            out.append((c, "RANGE", f"{stats[f'{c}_min']}..{stats[f'{c}_max']}"))
        if c in strings and nn > 0:
            out.append(
                (c, "LENGTH_BETWEEN", f"{stats[f'{c}_lmin']}..{stats[f'{c}_lmax']}")
            )
        if c in in_sets:
            out.append((c, "IN_SET", in_sets[c]))
    return spark.createDataFrame(
        out, "column string, constraint string, detail string"
    ).orderBy("column", "constraint")


# --------------------------------------------------------------------------
# Information-theoretic analyzers (Deequ Entropy / MutualInformation)
# --------------------------------------------------------------------------


def _ordered_fold(terms: F.Column) -> F.Column:
    """Left-fold a DOUBLE array with explicit 0.0 init and a trailing
    ``+ 0.0``: the accumulation order is the array order on every engine
    (no tree combine, no partition-order dependence), and the trailing add
    normalizes -0.0 — so a SQL replay folding the identically-sorted list
    is bit-identical, not merely close."""
    return F.aggregate(terms, F.lit(0.0), lambda a, x: a + x) + F.lit(0.0)


def column_entropy(df: DataFrame, col: str, max_groups: int = 100_000) -> DataFrame:
    """Shannon entropy (nats) of a categorical column → ONE row
    ``(column, n_rows, n_groups, value)``; NULLs excluded (Deequ Entropy
    semantics).

    Plan: one groupBy (map-side combinable) to exact integer counts —
    bounded by the column's cardinality, never rows — then the entropy
    folds DETERMINISTICALLY over the value-sorted group list inside one
    final row (``sort_array`` + explicit left fold), so two engines agree
    bit-exactly at 6 dp instead of "close up to float merge order". The
    ``max_groups`` cap raises BEFORE the group list is built (a cheap
    HLL cardinality pre-check — guarding after ``collect_list`` would be
    too late, the oversized array is the OOM), so a non-categorical
    column fails loudly instead of blowing the final reducer; the
    HLL-distinctness profile is the high-cardinality tool, not this."""
    _guard_cardinality(
        df.where(F.col(col).isNotNull()), F.col(col), max_groups,
        f"column_entropy({col})",
    )
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    one = counts.agg(
        F.sort_array(F.collect_list(F.struct("v", "c"))).alias("g"),
        F.sum("c").alias("n"),
    )
    p = lambda s: s["c"].cast("double") / F.col("n").cast("double")  # noqa: E731
    terms = F.transform(F.col("g"), lambda s: -p(s) * F.log(p(s)))
    return one.select(
        F.lit(col).alias("column"),
        F.col("n").alias("n_rows"),
        F.size("g").cast("long").alias("n_groups"),
        F.round(_ordered_fold(terms), 6).alias("value"),
    )


def mutual_information(
    df: DataFrame, col_x: str, col_y: str, max_groups: int = 100_000
) -> DataFrame:
    """Mutual information (nats) between two categorical columns → ONE row
    ``(column, n_rows, n_groups, value)`` with ``column = "x|y"``; rows
    where either side is NULL are excluded (Deequ MutualInformation
    semantics).

    Plan: one groupBy on the (x, y) pair to exact joint counts (bounded by
    |X|·|Y| groups), marginals as integer window sums OVER THE GROUP TABLE
    (exact regardless of order — no float risk), then the same
    sorted-list deterministic fold as ``column_entropy`` (same
    pre-``collect_list`` cardinality guard, on the PAIR). Products inside
    the log ratio evaluate as doubles so 10^12-row counts can't overflow
    the int64 lattice."""
    both = df.where(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
    _guard_cardinality(
        both, F.struct(col_x, col_y), max_groups,
        f"mutual_information({col_x},{col_y})",
    )
    joint = (
        both
        .groupBy(
            F.col(col_x).cast("string").alias("vx"),
            F.col(col_y).cast("string").alias("vy"),
        )
        .agg(F.count(F.lit(1)).alias("cxy"))
        .withColumn("cx", F.sum("cxy").over(Window.partitionBy("vx")))
        .withColumn("cy", F.sum("cxy").over(Window.partitionBy("vy")))
    )
    one = joint.agg(
        F.sort_array(F.collect_list(F.struct("vx", "vy", "cxy", "cx", "cy"))).alias(
            "g"
        ),
        F.sum("cxy").alias("n"),
    )
    nd = F.col("n").cast("double")

    def term(s: F.Column) -> F.Column:
        cxy = s["cxy"].cast("double")
        ratio = (cxy * nd) / (s["cx"].cast("double") * s["cy"].cast("double"))
        return (cxy / nd) * F.log(ratio)

    return one.select(
        F.lit(f"{col_x}|{col_y}").alias("column"),
        F.col("n").alias("n_rows"),
        F.size("g").cast("long").alias("n_groups"),
        F.round(_ordered_fold(F.transform(F.col("g"), term)), 6).alias("value"),
    )


def _guard_cardinality(
    df: DataFrame, key: F.Column, max_groups: int, what: str
) -> None:
    """Loud high-cardinality guard that fires BEFORE any group list is
    materialized: one narrow ``approx_count_distinct`` scan (constant HLL
    state, projects only the key), raising driver-side when the estimate
    exceeds the cap. A post-hoc check inside the aggregation would be
    too late — the oversized ``collect_list`` array IS the failure mode
    it exists to prevent. The ±2% HLL error is irrelevant to a misuse
    guard; callers needing exactly-at-the-boundary semantics should size
    ``max_groups`` with headroom."""
    est = df.agg(F.approx_count_distinct(key).alias("n")).first()["n"]
    if est > max_groups:
        raise ValueError(
            f"{what}: ~{est} distinct groups exceeds max_groups="
            f"{max_groups} — not a categorical column; use the HLL "
            f"distinctness profile for high-cardinality columns"
        )


def verify_constraints_by(
    df: DataFrame,
    constraints: list[tuple[str, str, str]],
    group_cols: list[str],
) -> DataFrame:
    """Grouped VerificationSuite — ``verify_constraints`` evaluated
    per ``group_cols`` group (Deequ's grouped analyzers / the reference's
    per-partition verdict grain, DataFileProcessorMaster's per-split
    collector maps generalized to arbitrary grouping keys):
    → ``(*group_cols, column, constraint, detail, n_violations, passed)``.

    Same rule kinds and identical NULL/violation semantics as the
    whole-table version (NOT_NULL, COMPLETENESS_GE, UNIQUE, RANGE, IN_SET,
    MATCHES, LENGTH_BETWEEN, QUANTILE_BETWEEN), so a rule list suggested by
    ``suggest_constraints`` runs verbatim at either grain.

    Plan shape — fully distributed (with no group columns this IS the
    whole-table version): ONE hash-aggregate scan keyed on the
    group columns (map-side partials; shuffle cardinality = #groups ×
    constant state), then the per-constraint verdict columns are folded
    into an array-of-structs and exploded JVM-side — no collect, no second
    scan, no join. A UNIQUE rule adds the second Exchange of Spark's
    two-phase exact distinct ((groups, col) pre-agg → (groups) final);
    every counting-only battery is a single Exchange. Output is
    #groups × #constraints rows. At 10^12 docs
    grouped by crawl window or source domain this is the shape that holds:
    per-group state is a fixed handful of counters (plus one exact
    percentile buffer per QUANTILE_BETWEEN rule — swap to
    ``percentile_approx`` for sketch-bounded state at extreme group
    counts)."""
    return rule_verdicts(df.groupBy(*group_cols), group_cols, constraints)


def rule_verdicts(
    grouped: GroupedData,
    keys: list[str],
    constraints: list[tuple[str, str, str]],
    *extra: F.Column,
    streaming: bool = False,
) -> DataFrame:
    """The battery's verdict rows over any grouping (``groupBy``,
    ``rollup``, a streaming window): ``rule_agg_exprs`` (plus the ``extra``
    aggregates, which ``keys`` may name) in one aggregate, then
    ``rule_verdict_structs`` exploded JVM-side → ``(*keys, column,
    constraint, detail, n_violations, passed)``. ``streaming=True`` rejects
    the kinds a streaming aggregate cannot evaluate (``rule_agg_exprs``)."""
    # the cast types an empty rule list's array, which then yields no rows
    verdicts = F.array(*rule_verdict_structs(constraints)).cast(
        "array<struct<column:string, constraint:string, detail:string, "
        "n_violations:bigint, passed:boolean>>"
    )
    return (
        grouped.agg(*extra, *rule_agg_exprs(constraints, streaming=streaming))
        .select(*keys, F.explode(verdicts).alias("_r"))
        .select(*keys, "_r.*")
    )


def rule_agg_exprs(
    constraints: list[tuple[str, str, str]], streaming: bool = False
) -> list[F.Column]:
    """The shared rule→aggregate compiler: one conditional aggregate per
    rule (``_v{i}`` violation count, plus ``_nn{i}`` for COMPLETENESS_GE
    and ``_q{i}`` for QUANTILE_BETWEEN), led by the ``_n`` row count.
    With ``streaming=True``, kinds whose aggregates Structured Streaming
    cannot evaluate incrementally (UNIQUE's exact countDistinct,
    QUANTILE_BETWEEN's sort-based percentile) raise loudly instead of
    silently degrading — streaming dup detection belongs to the
    watermarked ``stream_duplicates_within_horizon``."""
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
    for i, (col, kind, detail) in enumerate(constraints):
        c = F.col(col)
        if streaming and kind in ("UNIQUE", "QUANTILE_BETWEEN"):
            raise ValueError(
                f"constraint kind {kind!r} is not streamable (exact "
                f"distinct/percentile state is unbounded per window); "
                f"use the batch battery, or "
                f"stream_duplicates_within_horizon for streaming dups"
            )
        if kind in ("NOT_NULL", "COMPLETENESS_GE"):
            expr = F.count(F.when(c.isNull(), F.lit(1)))
        elif kind == "UNIQUE":
            expr = F.count(c) - F.countDistinct(c)
        elif kind == "RANGE":
            lo, hi = (float(v) for v in detail.split("..", 1))
            expr = F.count(
                F.when(c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))), F.lit(1))
            )
        elif kind == "IN_SET":
            vals = detail.split(",") if detail else []
            expr = F.count(
                F.when(c.isNotNull() & ~c.cast("string").isin(vals), F.lit(1))
            )
        elif kind == "MATCHES":
            expr = F.count(
                F.when(c.isNotNull() & ~c.cast("string").rlike(detail), F.lit(1))
            )
        elif kind == "LENGTH_BETWEEN":
            lo, hi = (int(v) for v in detail.split("..", 1))
            ln = F.length(c.cast("string"))
            expr = F.count(
                F.when(
                    c.isNotNull() & ((ln < F.lit(lo)) | (ln > F.lit(hi))),
                    F.lit(1),
                )
            )
        elif kind == "JSON_KEY":
            # detail "path:TYPE" (e.g. "$.k:BIGINT"): non-null values whose
            # JSON payload lacks the path OR whose extracted value does not
            # TRY_CAST to the declared type — the record-interpretation
            # check for semi-structured columns (get_json_object ==
            # DuckDB json_extract_string; both unquote scalars)
            path, typ = detail.rsplit(":", 1)
            val = F.get_json_object(c.cast("string"), path)
            expr = F.count(
                F.when(c.isNotNull() & val.try_cast(typ).isNull(), F.lit(1))
            )
        elif kind == "QUANTILE_BETWEEN":
            q, _env = detail.split(":", 1)
            aggs.append(
                F.percentile(c.cast("double"), float(q)).alias(f"_q{i}")
            )
            expr = F.lit(0)
        elif kind == "CORR_BETWEEN":
            # detail "ycol:lo..hi": exact-moment Pearson r of (col, ycol)
            # must land in the closed envelope. The moments are plain sums
            # over scale-6-quantized DECIMAL(38,0) integers (the
            # correlation_exact discipline: order-independent, map-side
            # combinable, hash-portable) — which ALSO makes this the one
            # relationship rule the streaming face can evaluate
            # incrementally, unlike UNIQUE/QUANTILE_BETWEEN
            ycol, _env = detail.split(":", 1)
            grain = F.lit(1_000_000).cast("double")
            pair = c.isNotNull() & F.col(ycol).isNotNull()
            xq = F.when(pair, F.round(c.cast("double") * grain)).cast(
                "decimal(38,0)"
            )
            yq = F.when(
                pair, F.round(F.col(ycol).cast("double") * grain)
            ).cast("decimal(38,0)")
            aggs.append(F.count(F.when(pair, F.lit(1))).alias(f"_cn{i}"))
            aggs.append(F.sum(xq).alias(f"_cx{i}"))
            aggs.append(F.sum(yq).alias(f"_cy{i}"))
            aggs.append(F.sum(xq * xq).alias(f"_cxx{i}"))
            aggs.append(F.sum(yq * yq).alias(f"_cyy{i}"))
            aggs.append(F.sum(xq * yq).alias(f"_cxy{i}"))
            expr = F.lit(0)
        elif kind in ("MIN_BETWEEN", "MAX_BETWEEN"):
            # Deequ hasMin/hasMax: the exact extremum must land in the
            # closed envelope; round(6) absorbs sub-ulp engine noise.
            # Streamable: min/max are incremental aggregates.
            fn = F.min if kind == "MIN_BETWEEN" else F.max
            aggs.append(F.round(fn(c.cast("double")), 6).alias(f"_a{i}"))
            expr = F.lit(0)
        elif kind in ("MEAN_BETWEEN", "SUM_BETWEEN"):
            # Deequ hasMean/hasSum via the correlation_exact discipline:
            # values quantize to 10^6-grain DECIMAL(38,0) integers so the
            # sum is exact, order-independent, and map-side combinable —
            # a naive double SUM drifts in the low bits across
            # partitionings and would not hash-check. Streamable.
            grain = F.lit(1_000_000).cast("double")
            vq = F.when(
                c.isNotNull(), F.round(c.cast("double") * grain)
            ).cast("decimal(38,0)")
            aggs.append(F.sum(vq).alias(f"_s{i}"))
            if kind == "MEAN_BETWEEN":
                aggs.append(F.count(c).alias(f"_sc{i}"))
            expr = F.lit(0)
        elif kind == "N_ROWS_BETWEEN":
            # table-level row-count envelope (GE expect_table_row_count):
            # reads the battery's shared _n; the column field is
            # conventionally '*'. Streamable.
            expr = F.lit(0)
        elif kind == "FRESH_WITHIN":
            # detail "NOW_ISO|max_lag_seconds": the newest timestamp must
            # be within the lag budget of the DETERMINISTIC 'now' the
            # caller pins (no wall clock — reruns and engines agree).
            # Unlike the other envelope kinds an empty/all-NULL column
            # FAILS: silence is staleness — an empty window is exactly
            # what a freshness rule exists to catch. Streamable.
            aggs.append(
                F.max(F.unix_micros(c.cast("timestamp"))).alias(f"_f{i}")
            )
            expr = F.lit(0)
        elif kind == "COMPLIANCE_GE":
            # Deequ Compliance: detail "SQL_predicate|p" — the fraction of
            # rows satisfying the predicate must reach p; a NULL predicate
            # result counts as non-compliant (ANSI three-valued logic
            # collapsed the way Deequ's `where` does). The column field is
            # descriptive only ('*' by convention). Streamable.
            pred, _p = detail.rsplit("|", 1)
            expr = F.count(
                F.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(1))
            )
        elif kind == "UNIQUE_RATIO_GE":
            if streaming:
                raise ValueError(
                    "constraint kind 'UNIQUE_RATIO_GE' is not streamable "
                    "(exact distinct state is unbounded per window); use "
                    "the batch battery"
                )
            # Deequ uniqueValueRatio: distinct/non-null must reach p;
            # n_violations stays the UNIQUE-style extra-duplicate count
            aggs.append(F.countDistinct(c).alias(f"_ud{i}"))
            aggs.append(F.count(c).alias(f"_un{i}"))
            expr = F.count(c) - F.countDistinct(c)
        else:
            raise ValueError(f"unknown constraint kind: {kind!r}")
        aggs.append(expr.cast("long").alias(f"_v{i}"))
        if kind == "COMPLETENESS_GE":
            aggs.append(F.count(c).cast("long").alias(f"_nn{i}"))
    return aggs


def rule_verdict_structs(
    constraints: list[tuple[str, str, str]]
) -> list[F.Column]:
    """The shared verdict projector over ``rule_agg_exprs`` output: one
    (column, constraint, detail, n_violations, passed) struct per rule —
    pure Column algebra, explodable after any (batch or streaming)
    aggregation."""
    verdicts: list[F.Column] = []
    for i, (col, kind, detail) in enumerate(constraints):
        viol = F.col(f"_v{i}")
        if kind == "COMPLETENESS_GE":
            ratio = F.when(
                F.col("_n") > 0,
                F.round(F.col(f"_nn{i}") / F.col("_n"), 6),
            ).otherwise(F.lit(1.0))
            passed = ratio >= F.lit(float(detail))
        elif kind == "QUANTILE_BETWEEN":
            lo, hi = (float(v) for v in detail.split(":", 1)[1].split("..", 1))
            obs = F.col(f"_q{i}")
            passed = obs.isNull() | ((obs >= F.lit(lo)) & (obs <= F.lit(hi)))
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind == "CORR_BETWEEN":
            lo, hi = (float(v) for v in detail.split(":", 1)[1].split("..", 1))
            n = F.col(f"_cn{i}").cast("double")
            sx = F.col(f"_cx{i}").cast("double")
            sy = F.col(f"_cy{i}").cast("double")
            sxx = F.col(f"_cxx{i}").cast("double")
            syy = F.col(f"_cyy{i}").cast("double")
            sxy = F.col(f"_cxy{i}").cast("double")
            var_x = n * sxx - sx * sx
            var_y = n * syy - sy * sy
            obs = F.when(
                (var_x > 0) & (var_y > 0),
                F.round((n * sxy - sx * sy) / F.sqrt(var_x * var_y), 6),
            )
            # degenerate (zero variance / <2 pairs) passes vacuously, like
            # an all-NULL QUANTILE_BETWEEN column
            passed = obs.isNull() | ((obs >= F.lit(lo)) & (obs <= F.lit(hi)))
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind in ("MIN_BETWEEN", "MAX_BETWEEN"):
            lo, hi = (float(v) for v in detail.split("..", 1))
            obs = F.col(f"_a{i}")
            passed = obs.isNull() | ((obs >= F.lit(lo)) & (obs <= F.lit(hi)))
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind in ("MEAN_BETWEEN", "SUM_BETWEEN"):
            lo, hi = (float(v) for v in detail.split("..", 1))
            # fixed operation order both engines replay: descale the
            # quantized sum by 1e6 FIRST, then (for MEAN) divide by n,
            # then round(6)
            s = F.col(f"_s{i}").cast("double") / F.lit(1e6)
            obs = (
                F.round(s / F.col(f"_sc{i}").cast("double"), 6)
                if kind == "MEAN_BETWEEN"
                else F.round(s, 6)
            )
            passed = obs.isNull() | ((obs >= F.lit(lo)) & (obs <= F.lit(hi)))
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind == "N_ROWS_BETWEEN":
            lo, hi = (float(v) for v in detail.split("..", 1))
            n = F.col("_n").cast("double")
            passed = (n >= F.lit(lo)) & (n <= F.lit(hi))
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind == "FRESH_WITHIN":
            now_us, max_lag_us = _parse_fresh(detail)
            obs = F.col(f"_f{i}")
            passed = obs.isNotNull() & (
                (F.lit(now_us) - obs) <= F.lit(max_lag_us)
            )
            viol = F.when(passed, F.lit(0)).otherwise(F.lit(1)).cast("long")
        elif kind == "COMPLIANCE_GE":
            p = float(detail.rsplit("|", 1)[1])
            ratio = F.when(
                F.col("_n") > 0,
                F.round((F.col("_n") - viol) / F.col("_n"), 6),
            ).otherwise(F.lit(1.0))
            passed = ratio >= F.lit(p)
        elif kind == "UNIQUE_RATIO_GE":
            p = float(detail)
            ratio = F.when(
                F.col(f"_un{i}") > 0,
                F.round(F.col(f"_ud{i}") / F.col(f"_un{i}"), 6),
            ).otherwise(F.lit(1.0))
            passed = ratio >= F.lit(p)
        else:
            passed = viol == F.lit(0)
        verdicts.append(
            F.struct(
                F.lit(col).alias("column"),
                F.lit(kind).alias("constraint"),
                F.lit(detail).alias("detail"),
                viol.alias("n_violations"),
                passed.alias("passed"),
            )
        )
    return verdicts


def quantiles_by(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    probs: list[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group quantiles → ``(*group_cols, n, q_25, q_50, …)`` —
    the grouped face of the profiler's order statistics (per-source length
    quantiles, per-window latency percentiles). One grouped aggregation
    scan; per-group state is one sort buffer per quantile, which is the
    exactness cost — at 10^12 rows swap ``F.percentile`` for
    ``percentile_approx`` (same plan, constant sketch state, approximate
    values; documented knob, not the oracle path). Values round to 6 dp —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share linear
    interpolation, and the quantization absorbs sub-ulp engine noise.
    NULLs are excluded by both engines' aggregate semantics."""
    c = F.col(col).cast("double")
    aggs = [F.count(c).alias("n")]
    for p in probs:
        name = f"q{int(round(p * 100)):02d}"
        aggs.append(F.round(F.percentile(c, F.lit(p)), 6).alias(name))
    return df.groupBy(*[F.col(g) for g in group_cols]).agg(*aggs)


def mad_outlier_rows(
    df: DataFrame, col: str, k: float = 3.0, id_cols: list[str] | None = None
) -> DataFrame:
    """Rows where ``|col − median| > k · 1.4826 · MAD`` →
    ``(*id_cols, col, center, spread)`` — the robust-z-score outlier check
    (median absolute deviation; the 1.4826 factor makes MAD estimate σ
    under normality). Complements ``iqr_outlier_rows``: MAD tolerates up
    to 50% contamination where Tukey fences break at 25%, so it is the
    check for columns suspected MOSTLY wrong (a scraper emitting garbage
    sizes for half a crawl).

    Plan (three scans, all exact and oracle-checkable): (1) exact median;
    (2) exact median of |x − median| with the median as a 1-row broadcast;
    (3) filter scan against the rounded fences, another 1-row broadcast —
    no shuffle ever touches full rows. ``percentile_approx`` is the
    documented single-pass 100 TB knob for both medians."""
    c = F.col(col).cast("double")
    med = df.agg(F.round(F.percentile(c, F.lit(0.5)), 6).alias("center"))
    mad = (
        df.crossJoin(F.broadcast(med))
        .agg(
            F.round(
                F.percentile(F.abs(c - F.col("center")), F.lit(0.5)), 6
            ).alias("mad"),
            F.min("center").alias("center"),
        )
    )
    bounds = mad.select(
        "center", F.round(F.lit(k) * F.lit(1.4826) * F.col("mad"), 6).alias("spread")
    )
    keep = id_cols if id_cols is not None else [x for x in df.columns if x != col]
    return (
        df.crossJoin(F.broadcast(bounds))
        .where(F.abs(c - F.col("center")) > F.col("spread"))
        .select(*keep, col, "center", "spread")
    )


def correlation_exact(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
    scale: int = 6,
) -> DataFrame:
    """Pearson correlation from EXACT integer moments →
    ``(*group_cols, n_rows, corr)`` — the Deequ ``Correlation`` analyzer
    with an engine-portable twist: a naive ``corr()`` aggregates doubles in
    partition order, so two engines (or two cluster sizes) disagree in the
    low bits and the result can't hash-check. Here both inputs quantize to
    ``10^scale``-grain integers first (the same double multiply + half-away
    round in Spark and DuckDB), the five moments (Σx, Σy, Σx², Σy², Σxy)
    accumulate in DECIMAL(38,0) — exact, order-independent, map-side
    combinable — and only the FINAL closed-form expression
    ``(n·Σxy − Σx·Σy) / √((n·Σx² − Σx²̄)(n·Σy² − Σy²̄))`` runs in floating
    point, one identical IEEE evaluation per group in either engine.

    One aggregation scan (grouped or global), bounded output; rows where
    either side is NULL are excluded (pairwise-complete, Deequ/SQL
    ``corr`` semantics). Zero variance on either side → NULL, explicitly
    (engines disagree on 0/0 for doubles). The DECIMAL(38,0) sums carry
    ~10^38 of headroom: at ``scale=6`` that is 10^12 rows of values up to
    10^13 before overflow — past that, lower ``scale``."""
    q = F.lit(10 ** scale).cast("double")
    xq = F.round(F.col(x_col).cast("double") * q).cast("decimal(38,0)")
    yq = F.round(F.col(y_col).cast("double") * q).cast("decimal(38,0)")
    both = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    both = both.select(
        *(group_cols or []), xq.alias("_xq"), yq.alias("_yq")
    )
    g = both.groupBy(*[F.col(c) for c in (group_cols or [])])
    moments = g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_xq").alias("_sx"),
        F.sum("_yq").alias("_sy"),
        F.sum(F.col("_xq") * F.col("_xq")).alias("_sxx"),
        F.sum(F.col("_yq") * F.col("_yq")).alias("_syy"),
        F.sum(F.col("_xq") * F.col("_yq")).alias("_sxy"),
    )
    n = F.col("n_rows").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        F.round((n * sxy - sx * sy) / F.sqrt(var_x * var_y), 6),
    )
    return moments.select(
        *(group_cols or []), "n_rows", corr.alias("corr")
    )


def null_pattern_census(
    df: DataFrame,
    cols: list[str],
    blank_as_missing: bool = False,
    top_k: int = 50,
) -> DataFrame:
    """Row-level missingness-PATTERN census → ``(pattern, n_rows, share)``,
    most frequent first — the profiler view completeness-per-column can't
    give: whether nulls co-occur (whole ingest batches missing everything)
    or scatter independently. ``pattern`` is one '0'/'1' char per column in
    ``cols`` order ('1' = missing); with ``blank_as_missing`` string
    columns also count whitespace-only values (the engine's NBSP-aware
    blank predicate) as missing.

    One scan into a groupBy whose key cardinality is ≤ 2^len(cols) — state
    stays trivial at any table size; share denominators come from a window
    sum over that tiny census, never a second scan. Deterministic
    (n DESC, pattern) cut at ``top_k``."""
    from ..functions.predicates import is_blank

    if not cols:
        raise ValueError("null_pattern_census needs at least one column")
    flags = []
    for c in cols:
        missing = F.col(c).isNull()
        if blank_as_missing and dict(df.dtypes).get(c) == "string":
            missing = missing | is_blank(F.col(c))
        flags.append(F.when(missing, F.lit("1")).otherwise(F.lit("0")))
    census = (
        df.select(F.concat(*flags).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = F.sum("n_rows").over(Window.partitionBy())
    return (
        census.select(
            "pattern", "n_rows", F.round(F.col("n_rows") / total, 6).alias("share")
        )
        .orderBy(F.col("n_rows").desc(), "pattern")
        .limit(top_k)
    )


#: dtype_census classifiers — anchored, ASCII-only ([0-9], not \\d) so the
#: Java (Spark) and RE2 (DuckDB) regex engines agree character-for-character
_DTYPE_BOOL_RE = "^(?i)(true|false)$"
_DTYPE_INT_RE = "^[+-]?[0-9]+$"
_DTYPE_FRAC_RE = "^[+-]?([0-9]+\\.[0-9]*|[0-9]*\\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$"


def dtype_census(df: DataFrame, col: str) -> DataFrame:
    """Deequ ``DataType`` analyzer: what type is this STRING column really?
    → one row ``(n_rows, n_null, n_boolean, n_integral, n_fractional,
    n_string, inferred)``. The question every schema-less ingest (CSV,
    spreadsheet, JSON-extracted) poses before declaring a schema; pairs
    with ``mask_profile`` (formats) and ``suggest_constraints`` (rules).

    Classification is REGEX-based, not try_cast-based — cast acceptance
    differs between engines ('1e309', 'inf', '  42') while an anchored
    ASCII regex is the same automaton in both, so the census hash-checks.
    Classes are disjoint: boolean | integral | fractional-only (decimal
    point or exponent present) | string | null. ``inferred`` follows
    Deequ's most-specific-covering-type rule: all non-null boolean →
    Boolean; all integral → Integral; all integral-or-fractional →
    Fractional; any other value → String; no non-null values → Unknown.
    ONE conditional-aggregate scan, 1-row output, no shuffle beyond the
    final 1-row combine."""
    v = F.col(col)
    is_bool = v.rlike(_DTYPE_BOOL_RE)
    is_int = v.rlike(_DTYPE_INT_RE)
    is_frac = v.rlike(_DTYPE_FRAC_RE) & ~is_int
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt(v.isNull()).alias("n_null"),
        cnt(v.isNotNull() & is_bool).alias("n_boolean"),
        cnt(v.isNotNull() & is_int).alias("n_integral"),
        cnt(v.isNotNull() & is_frac).alias("n_fractional"),
        cnt(v.isNotNull() & ~is_bool & ~is_int & ~is_frac).alias("n_string"),
    )
    non_null = F.col("n_rows") - F.col("n_null")
    inferred = (
        F.when(non_null == 0, F.lit("Unknown"))
        .when(F.col("n_string") > 0, F.lit("String"))
        .when(F.col("n_boolean") == non_null, F.lit("Boolean"))
        .when(F.col("n_integral") == non_null, F.lit("Integral"))
        .when(F.col("n_boolean") == 0, F.lit("Fractional"))
        .otherwise(F.lit("String"))  # booleans mixed with numbers
    )
    return agg.select(
        "n_rows", "n_null", "n_boolean", "n_integral", "n_fractional",
        "n_string", inferred.alias("inferred"),
    )


#: refuse to enumerate more column combinations than this in one scan —
#: C(k, ≤arity) grows fast and each exact distinct multiplies the
#: aggregation's Expand factor; raise the cap consciously, not by accident
MAX_KEY_COMBOS = 200


def candidate_keys(
    df: DataFrame,
    cols: list[str],
    max_arity: int = 2,
    exact: bool = True,
    approx_margin: float = 0.1,
) -> DataFrame:
    """Unique-column-combination discovery (the Deequ KeyDiscovery /
    HyUCC problem, bounded): which combinations of ``cols`` up to
    ``max_arity`` uniquely identify every row →
    ``(combo, arity, n_rows, n_distinct, is_key, is_minimal_key)``.

    A combo is a key when its distinct count equals the table's row count
    under ``COUNT(DISTINCT …)`` semantics (rows with a NULL in any combo
    column are excluded from distinctness, so a key is implicitly
    NULL-free — uniqueness and completeness in one test, matching the
    engine's RECORD_NOT_UNIQUELY_IDENTIFIED discipline). ``is_minimal_key``
    prunes supersets: a key none of whose proper sub-combos (within the
    searched set) is itself a key — the combos worth declaring.

    Plan: ``exact=True`` evaluates every combo's exact ``countDistinct``
    in ONE aggregation scan (Spark's Expand multiplies the scan by the
    number of distinct groups — fine for tens of combos, and the oracle
    path). ``exact=False`` is the 100 TB shape: pass 1 is one scan of
    ``approx_count_distinct`` per combo (constant sketch state, NO
    Expand); only combos whose estimate reaches ``(1 - approx_margin) ×
    n_rows`` get an exact confirming ``countDistinct`` each — HLL error
    is ~2%, so a true key survives a 10% margin with huge headroom, and
    non-candidates never pay the exact-distinct shuffle. Both modes
    return identical results (pytest-pinned). The combo count is capped
    at ``MAX_KEY_COMBOS`` — loudly."""
    from itertools import combinations

    if not cols:
        raise ValueError("candidate_keys: cols must be non-empty")
    if max_arity < 1:
        raise ValueError(f"candidate_keys: max_arity must be >= 1, got {max_arity}")
    combos: list[tuple[str, ...]] = []
    for r in range(1, min(max_arity, len(cols)) + 1):
        combos.extend(combinations(cols, r))
    if len(combos) > MAX_KEY_COMBOS:
        raise ValueError(
            f"candidate_keys: {len(combos)} combinations exceed "
            f"MAX_KEY_COMBOS={MAX_KEY_COMBOS}; narrow cols or max_arity "
            f"(or raise the cap consciously)"
        )

    spark: SparkSession = df.sparkSession
    if exact:
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.countDistinct(*[F.col(c) for c in combo]).alias(f"_d{i}")
                for i, combo in enumerate(combos)
            ],
        ).first()
        n = int(row["_n"])
        dcounts = [int(row[f"_d{i}"]) for i in range(len(combos))]
    else:
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.approx_count_distinct(F.struct(*[F.col(c) for c in combo]))
                .alias(f"_d{i}")
                for i, combo in enumerate(combos)
            ],
        ).first()
        n = int(row["_n"])
        bar = (1.0 - approx_margin) * n
        dcounts = []
        for i, combo in enumerate(combos):
            if int(row[f"_d{i}"]) >= bar:
                # exact confirm, one bounded agg per surviving candidate
                dcounts.append(
                    int(
                        df.agg(
                            F.countDistinct(*[F.col(c) for c in combo])
                        ).first()[0]
                    )
                )
            else:
                # proven non-key by the sketch's error bound; report the
                # estimate, flagged non-key
                dcounts.append(int(row[f"_d{i}"]))

    keys = {combo for combo, d in zip(combos, dcounts) if n > 0 and d == n}
    out = []
    for combo, d in zip(combos, dcounts):
        is_key = combo in keys
        minimal = is_key and not any(
            sub in keys
            for r in range(1, len(combo))
            for sub in combinations(combo, r)
        )
        out.append((",".join(combo), len(combo), n, d, is_key, minimal))
    return spark.createDataFrame(
        out,
        "combo string, arity int, n_rows long, n_distinct long, "
        "is_key boolean, is_minimal_key boolean",
    ).orderBy("arity", "combo")
