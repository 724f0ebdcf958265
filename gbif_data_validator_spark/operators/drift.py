"""Pass 2c — KS-style distribution-drift detection over warc_ts windows.

No reference analog (the reference has no streaming/windowed operators —
SURVEY.md §2.5); this is the north-star extension: "KS-style distribution-
drift tests over windowed warc_ts partitions".

Spark design (scale-first):
  1. ONE groupBy(window) aggregation computes an equi-probability quantile
     sketch (``percentile_approx``, mergeable, constant state) + count of
     the metric per window — the only pass over the data.
  2. The pooled (all-windows) sketch comes from the same scan via a
     grouping-sets-style union of one global agg.
  3. The KS statistic D = sup_x |F_w(x) - F_ref(x)| is approximated from the
     two quantile vectors on the tiny per-window DF (#windows rows) with an
     Arrow-batched pandas UDF: for each quantile value of the window, the
     reference CDF is interpolated and the max prob-gap taken.

At 100 TB: step 1 shuffles only sketch state (KBs per window); steps 2-3
touch #windows rows. Nothing is collected to the driver until the final
(tiny) verdict DF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..model import CheckId

N_PROBS = 41
PROBS = [i / (N_PROBS - 1) for i in range(N_PROBS)]
ACCURACY = 10000
DEFAULT_THRESHOLD = 0.15


def ks_statistic(qw, qr) -> float:
    """Approximate two-sample KS statistic from equi-probability quantile
    vectors (ECDF max-gap — scipy-free, per SURVEY.md §4.2). Pure function:
    used by the distributed pandas UDF AND by the engine's driver-side
    drift evaluation over collected rollup sketches."""
    if qw is None or qr is None:
        return float("nan")
    probs = np.asarray(PROBS)

    def cdf_at(q: np.ndarray, vs: np.ndarray) -> np.ndarray:
        # right-continuous step ECDF from an equi-probability quantile
        # vector: F(v) = max prob whose quantile value <= v. Robust to ties
        # and degenerate (constant) distributions, unlike interpolation.
        idx = np.searchsorted(q, vs, side="right") - 1
        return np.where(idx >= 0, probs[np.clip(idx, 0, len(probs) - 1)], 0.0)

    w = np.asarray(qw, dtype=float)
    r = np.asarray(qr, dtype=float)
    support = np.union1d(w, r)
    return float(np.max(np.abs(cdf_at(w, support) - cdf_at(r, support))))


def merge_quantile_sketches(sketches, probs=None) -> tuple[int, list[float] | None]:
    """Pooled ``(n, q[N_PROBS])`` from per-window equi-probability quantile
    sketches: the pooled ECDF is the row-count-weighted average of the
    window step-ECDFs (exactly how a pooled sample's ECDF decomposes), and
    the pooled quantile vector is that ECDF inverted at ``PROBS``.

    This is what makes drift INCREMENTAL at 100 TB: a window's sketch is its
    complete drift state, so already-validated windows contribute their
    stored (run-time) sketches and only new windows are scanned — the pooled
    reference never needs a whole-table pass. Uses the same right-continuous
    step-ECDF as ``ks_statistic`` so merged-vs-direct pooled sketches agree
    up to sketch resolution (accuracy pinned in tests/test_drift.py).

    ``probs`` is the equi-probability grid the input vectors were computed
    at (default: the drift grid ``PROBS``; the engine's profile merge passes
    its own 11-point grid)."""
    probs = np.asarray(PROBS if probs is None else probs)
    items = [
        (int(n), np.asarray(q, dtype=float))
        for n, q in sketches
        if n and q is not None and len(q) == len(probs)
    ]
    if not items:
        return 0, None
    total = sum(n for n, _ in items)
    support = np.unique(np.concatenate([q for _, q in items]))
    cdf = np.zeros(len(support))
    for n, q in items:
        idx = np.searchsorted(q, support, side="right") - 1
        cdf += (n / total) * np.where(
            idx >= 0, probs[np.clip(idx, 0, len(probs) - 1)], 0.0
        )
    # invert: smallest support value whose pooled CDF reaches p (tolerance
    # absorbs float dust from the weighted sum; p=1 lands on the global max)
    pos = np.searchsorted(cdf, probs - 1e-9, side="left")
    merged = support[np.clip(pos, 0, len(support) - 1)]
    return total, [float(v) for v in merged]


def _ks_from_quantiles(qw: pd.Series, qr: pd.Series) -> pd.Series:
    return pd.Series([ks_statistic(w, r) for w, r in zip(qw, qr)])


_ks_udf = F.pandas_udf(_ks_from_quantiles, returnType=DoubleType())


def window_quantiles(
    df: DataFrame, metric: F.Column, ts_col: str = "warc_ts", window_fmt: str = "yyyy-MM"
) -> DataFrame:
    """(window, n, q[N_PROBS]) per warc_ts window — one agg scan."""
    return (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.date_format(F.col(ts_col), window_fmt).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx(metric, PROBS, ACCURACY).alias("q"),
        )
    )


def ks_drift(
    df: DataFrame,
    metric: F.Column | None = None,
    ts_col: str = "warc_ts",
    window_fmt: str = "yyyy-MM",
    threshold: float = DEFAULT_THRESHOLD,
    min_rows: int = 30,
) -> DataFrame:
    """→ (window, n, ks_stat, drifted) per warc_ts window, KS vs the pooled
    distribution across all windows. Windows with fewer than ``min_rows``
    rows are excluded — a handful of stray timestamps (e.g. the
    WARC_TS_UNLIKELY fixture rows) gives a meaninglessly noisy ECDF."""
    metric = metric if metric is not None else F.length(F.col("text"))
    per_window = window_quantiles(df, metric, ts_col, window_fmt).where(
        F.col("n") >= min_rows
    )
    pooled = (
        df.where(F.col(ts_col).isNotNull())
        .agg(F.percentile_approx(metric, PROBS, ACCURACY).alias("q_ref"))
    )
    joined = per_window.crossJoin(F.broadcast(pooled))
    # flag bar = max(configured floor, one-sample KS critical value
    # c(α≈0.001)/sqrt(n)): small windows must clear a proportionally larger
    # gap (sampling noise), huge windows fall back to the practical floor.
    bar = F.greatest(F.lit(threshold), F.lit(1.95) / F.sqrt(F.col("n")))
    ks = _ks_udf(F.col("q"), F.col("q_ref"))
    return joined.select(
        "window",
        "n",
        ks.alias("ks_stat"),
        (ks > bar).alias("drifted"),
    )


def categorical_drift(
    df: DataFrame,
    cat_col: str,
    ts_col: str = "warc_ts",
    window_fmt: str = "yyyy-MM",
    smooth: float = 0.5,
    threshold: float = 0.2,
    min_rows: int = 30,
) -> DataFrame:
    """Categorical distribution drift per time window vs the pooled
    distribution: PSI (population stability index, with additive smoothing
    for zero cells) and the chi-square goodness-of-fit statistic.
    → (window, n, psi, chi2, drifted).

    Complements ``ks_drift`` (numeric metrics) for categorical columns
    (lang, source, status) — together the "distribution-drift checks" of
    the north rule.

    Scale shape: ONE corpus-sized shuffle — groupBy(window, category)
    counts. Everything downstream (window totals, pooled totals, the full
    window×category grid with zero cells, the PSI/chi2 sums) operates on
    #windows × #categories rows, which for real columns is tiny. Exact
    integer counts + deterministic float arithmetic → DuckDB-oracle-able
    (unlike the sketch-based KS path)."""
    win = F.date_format(F.col(ts_col), window_fmt).alias("window")
    obs = (
        df.where(F.col(ts_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(win, F.col(cat_col).alias("cat"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wn = obs.groupBy("window").agg(F.sum("c").alias("n_w"))
    pooled = obs.groupBy("cat").agg(F.sum("c").alias("c_pool"))
    tot = pooled.agg(
        F.sum("c_pool").alias("total"), F.count(F.lit(1)).alias("n_cats")
    )
    grid = wn.crossJoin(F.broadcast(pooled)).crossJoin(F.broadcast(tot))
    m = grid.join(obs, on=["window", "cat"], how="left").withColumn(
        "cd", F.coalesce(F.col("c"), F.lit(0)).cast("double")
    )
    p_w = (F.col("cd") + F.lit(smooth)) / (
        F.col("n_w") + F.lit(smooth) * F.col("n_cats")
    )
    p_p = (F.col("c_pool").cast("double") + F.lit(smooth)) / (
        F.col("total") + F.lit(smooth) * F.col("n_cats")
    )
    exp_c = F.col("n_w").cast("double") * F.col("c_pool") / F.col("total")
    agg = (
        m.select(
            "window",
            "n_w",
            "n_cats",
            ((p_w - p_p) * F.log(p_w / p_p)).alias("psi_term"),
            ((F.col("cd") - exp_c) * (F.col("cd") - exp_c) / exp_c).alias("chi2_term"),
        )
        .groupBy("window", "n_w", "n_cats")
        .agg(
            F.round(F.sum("psi_term"), 6).alias("psi"),
            F.round(F.sum("chi2_term"), 6).alias("chi2"),
        )
    )
    # Verdict bar: PSI alone has sampling noise E[PSI] ≈ (C-1)/n, so a small
    # window over a wide category set trips any fixed threshold on pure
    # multinomial noise. Require BOTH the practical PSI floor AND the
    # chi-square statistic to clear its critical value ≈ (C-1) + 4·sqrt(2(C-1))
    # (normal approximation, α ≈ 3e-5) — the same small-window discipline as
    # the KS path's c(α)/sqrt(n) bar.
    dof = (F.col("n_cats") - 1).cast("double")
    chi2_bar = dof + F.lit(4.0) * F.sqrt(F.lit(2.0) * dof)
    return agg.select(
        "window",
        F.col("n_w").alias("n"),
        "psi",
        "chi2",
        (
            (F.col("psi") > threshold)
            & (F.col("chi2") > chi2_bar)
            & (F.col("n_w") >= min_rows)
        ).alias("drifted"),
    )


def categorical_drift_violations(cat_drift_df: DataFrame, cat_col: str) -> DataFrame:
    """Window-level CATEGORICAL_DRIFT_WINDOW verdict rows in the violations
    contract (url = the window, like drift_violations)."""
    return cat_drift_df.where(F.col("drifted")).select(
        F.concat(F.lit("window:"), F.col("window")).alias("url"),
        F.lit(CheckId.CATEGORICAL_DRIFT_WINDOW).alias("check_id"),
        F.lit("psi <= threshold").alias("expected"),
        F.format_number(F.col("psi"), 4).alias("found"),
        F.create_map(
            F.lit("n"), F.col("n").cast("string"),
            F.lit("column"), F.lit(cat_col),
            F.lit("chi2"), F.col("chi2").cast("string"),
        ).alias("related_data"),
        F.col("window").alias("partition_id"),
    )


def drift_violations(drift_df: DataFrame) -> DataFrame:
    """Window-level DRIFT_WINDOW verdict rows in the violations contract
    (url = the window, since the finding is not row-scoped)."""
    return drift_df.where(F.col("drifted")).select(
        F.concat(F.lit("window:"), F.col("window")).alias("url"),
        F.lit(CheckId.DRIFT_WINDOW).alias("check_id"),
        F.lit("ks_stat <= threshold").alias("expected"),
        F.format_number(F.col("ks_stat"), 4).alias("found"),
        F.create_map(
            F.lit("n"), F.col("n").cast("string"),
            F.lit("window"), F.col("window"),
        ).alias("related_data"),
        F.col("window").alias("partition_id"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current sample
    of ``col`` → one row per bucket ``(bucket, n_ref, n_cur, p_ref, p_cur,
    term)`` plus the total ``psi`` repeated on every row — the
    industry-standard "did the score distribution move" monitor
    (rule of thumb: <0.1 stable, 0.1-0.25 shifting, >0.25 drifted),
    complementing the KS check (sensitive to the worst single point) with
    a whole-shape, bucket-attributable measure: the per-bucket ``term``
    column says WHERE the mass moved.

    Determinism contract (hash-checkable like entropy/MI): explicit
    ``[lo, hi)`` fixed-width buckets via floor math (bucket 0 = underflow,
    n_buckets+1 = overflow — never silently dropped mass); proportions
    rounded to 6 dp then eps-floored (empty buckets contribute a finite
    term); per-bucket terms rounded to 6 dp; the total is an ORDERED fold
    over the bucket-sorted term list, so two engines sum in the same IEEE
    order. Plan: two bucket-key groupBys (map-combinable, ≤ n_buckets+2
    state), one full-outer join of the two tiny count tables, a 1-row
    fold broadcast — nothing corpus-sized ever shuffles."""
    from .constraints import _ordered_fold  # shared IEEE-order fold

    if not hi > lo:  # also catches NaN envelopes
        raise ValueError(
            f"psi_drift needs hi > lo (got [{lo}, {hi})) — a constant or "
            f"all-NULL reference column has no bucketable envelope; widen "
            f"it explicitly"
        )
    w = (hi - lo) / n_buckets

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        c = F.col(col).cast("double")
        b = (
            F.when(c < F.lit(lo), F.lit(0))
            .when(c >= F.lit(hi), F.lit(n_buckets + 1))
            .otherwise(F.floor((c - F.lit(lo)) / F.lit(w)) + F.lit(1))
        ).cast("long")
        return (
            df.where(c.isNotNull())
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    m = (
        bucketed(ref, "n_ref")
        .join(bucketed(cur, "n_cur"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = m.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    p_ref = F.greatest(F.round(F.col("n_ref") / F.col("_tr"), 6), F.lit(eps))
    p_cur = F.greatest(F.round(F.col("n_cur") / F.col("_tc"), 6), F.lit(eps))
    scored = (
        m.crossJoin(F.broadcast(tot))
        .withColumn("p_ref", p_ref)
        .withColumn("p_cur", p_cur)
        .withColumn(
            "term",
            F.round(
                (F.col("p_ref") - F.col("p_cur"))
                * F.log(F.col("p_ref") / F.col("p_cur")),
                6,
            ),
        )
        .select("bucket", "n_ref", "n_cur", "p_ref", "p_cur", "term")
    )
    total = scored.agg(
        F.round(
            _ordered_fold(F.sort_array(F.collect_list("term"))), 6
        ).alias("psi")
    )
    return scored.crossJoin(F.broadcast(total)).orderBy("bucket")


def emd_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between a reference and a
    current sample of ``col`` on the same fixed ``[lo, hi)`` bucket grid as
    ``psi_drift`` → one row per bucket ``(bucket, n_ref, n_cur, cum_ref,
    cum_cur, term)`` plus the total ``emd`` repeated on every row. EMD
    completes the drift family: KS reads the WORST single CDF gap, PSI/JS
    read log-ratio shape change per bucket, chi-square reads sampling
    noise — EMD is the only one that weights drift by HOW FAR the mass
    moved (in value units), so a small shift of the whole distribution and
    a large shift of a sliver score differently. On the bucket grid
    W1 = Σ_b |F_ref(edge_b) − F_cur(edge_b)| · w — the per-bucket ``term``
    says how much transport crosses each bucket edge. Under/overflow
    buckets (0 and n_buckets+1) are kept as point masses one bucket-width
    from the edge, so out-of-envelope mass is charged, never dropped.

    Determinism contract (hash-checkable like psi_drift): a DENSE bucket
    spine 0..n_buckets+1 (an interior bucket empty in BOTH samples still
    carries cumulative transport — the sparse join psi uses would silently
    skip it); cumulative counts are exact integer window sums; each term
    is ONE division-subtract-abs-multiply from exact integers, rounded to
    6 dp; the total is the IEEE-ordered fold over the sorted term list.
    Plan: two bucket-key groupBys (map-combinable, ≤ n_buckets+2 state),
    a spine join and window over that ≤ n_buckets+2-row table, a 1-row
    fold broadcast — nothing corpus-sized ever shuffles."""
    from pyspark.sql import Window

    from .constraints import _ordered_fold  # shared IEEE-order fold

    if not hi > lo:  # also catches NaN envelopes
        raise ValueError(
            f"emd_drift needs hi > lo (got [{lo}, {hi})) — a constant or "
            f"all-NULL reference column has no bucketable envelope; widen "
            f"it explicitly"
        )
    w = (hi - lo) / n_buckets

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        c = F.col(col).cast("double")
        b = (
            F.when(c < F.lit(lo), F.lit(0))
            .when(c >= F.lit(hi), F.lit(n_buckets + 1))
            .otherwise(F.floor((c - F.lit(lo)) / F.lit(w)) + F.lit(1))
        ).cast("long")
        return (
            df.where(c.isNotNull())
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    spine = ref.sparkSession.range(0, n_buckets + 2).select(
        F.col("id").alias("bucket")
    )
    m = (
        spine.join(bucketed(ref, "n_ref"), "bucket", "left")
        .join(bucketed(cur, "n_cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = m.agg(F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc"))
    scored = (
        m.withColumn("cum_ref", F.sum("n_ref").over(cum))
        .withColumn("cum_cur", F.sum("n_cur").over(cum))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term",
            F.round(
                F.abs(
                    F.col("cum_ref") / F.col("_tr")
                    - F.col("cum_cur") / F.col("_tc")
                )
                * F.lit(w),
                6,
            ),
        )
        .select("bucket", "n_ref", "n_cur", "cum_ref", "cum_cur", "term")
    )
    total = scored.agg(
        F.round(
            _ordered_fold(F.sort_array(F.collect_list("term"))), 6
        ).alias("emd")
    )
    return scored.crossJoin(F.broadcast(total)).orderBy("bucket")


def psi_from_sketches(
    ref: tuple[int, list[float] | None],
    cur: tuple[int, list[float] | None],
    n_buckets: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
    probs=None,
) -> dict:
    """PSI between two PERSISTED quantile sketches — run-over-run drift
    with zero data rescan: the engine checkpoints each window's
    ``(drift_n, drift_q)`` on its ``checkpoint/`` lineage row
    (model.py::CHECKPOINT_SCHEMA), so "did the distribution
    move since last month's run" is answered entirely
    from two pooled sketch vectors the driver already holds, at any table
    size. ``ref``/``cur`` are ``(n, q)`` pairs (merge per-window sketches
    with ``merge_quantile_sketches`` first).

    Bucket mass is read off the same right-continuous step ECDF as
    ``ks_statistic``: p[lo_edge, hi_edge) ≈ F(hi_edge) − F(lo_edge) — exact
    up to sketch resolution (1/len(probs)), the documented approximation
    vs the exact-count ``psi_drift``. Envelope defaults to the union of
    the two sketch supports; bucket ids, 6-dp rounding, eps floor, and the
    sorted-term total mirror ``psi_drift`` so the two faces read alike.
    Returns ``{"psi", "lo", "hi", "n_ref", "n_cur", "buckets": [...]}``;
    ``psi`` is NaN when either sketch is empty."""
    pr = np.asarray(PROBS if probs is None else probs)

    def cdf(q, vs):
        idx = np.searchsorted(np.asarray(q, dtype=float), vs, side="right") - 1
        return np.where(idx >= 0, pr[np.clip(idx, 0, len(pr) - 1)], 0.0)

    if lo is not None and hi is not None and not hi > lo:
        raise ValueError(f"psi_from_sketches needs hi > lo (got [{lo}, {hi}))")
    n_ref, q_ref = ref
    n_cur, q_cur = cur
    if not n_ref or not n_cur or q_ref is None or q_cur is None:
        return {
            "psi": float("nan"), "lo": lo, "hi": hi,
            "n_ref": int(n_ref or 0), "n_cur": int(n_cur or 0), "buckets": [],
        }
    if lo is None:
        lo = float(min(q_ref[0], q_cur[0]))
    if hi is None:
        hi = float(max(q_ref[-1], q_cur[-1]))
    if hi <= lo:
        hi = lo + 1.0  # degenerate (constant) support: one interior bucket
    edges = np.linspace(lo, hi, n_buckets + 1)

    def masses(q):
        f = cdf(q, edges)
        inner = np.diff(f)
        return np.concatenate([[f[0]], inner, [1.0 - f[-1]]])

    p_ref = np.maximum(np.round(masses(q_ref), 6), eps)
    p_cur = np.maximum(np.round(masses(q_cur), 6), eps)
    terms = np.round((p_ref - p_cur) * np.log(p_ref / p_cur), 6)
    buckets = [
        {
            "bucket": int(i),
            "p_ref": float(p_ref[i]),
            "p_cur": float(p_cur[i]),
            "term": float(terms[i]),
        }
        for i in range(n_buckets + 2)
    ]
    psi = round(float(sum(sorted(float(t) for t in terms))), 6)
    return {
        "psi": psi, "lo": float(lo), "hi": float(hi),
        "n_ref": int(n_ref), "n_cur": int(n_cur), "buckets": buckets,
    }


def js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    max_groups: int = 100_000,
) -> DataFrame:
    """Jensen–Shannon divergence (nats) between two tables' categorical
    distributions of ``col`` → ONE row ``(column, n_a, n_b, n_values,
    value)``. The symmetric, bounded (≤ ln 2) companion to KS (numeric)
    and PSI (bucket-attributable): zero-mass categories on either side
    contribute only the other side's half-KL term, so JSD never goes
    infinite the way raw KL does — the right single-number alarm when new
    categories appear between crawls.

    Plan: one groupBy per side (map-side combinable, bounded by category
    cardinality, guarded like ``column_entropy``), a full-outer equi-join
    of the two tiny count tables, then the fold runs DETERMINISTICALLY
    over the value-sorted list in one final row (``sort_array`` +
    explicit left fold, the ``_ordered_fold`` discipline) — so two
    engines agree bit-exactly at 6 dp. NULLs excluded on both sides."""
    from .constraints import _guard_cardinality, _ordered_fold

    _guard_cardinality(
        df_a.where(F.col(col).isNotNull()), F.col(col), max_groups,
        f"js_divergence({col}) side A",
    )
    _guard_cardinality(
        df_b.where(F.col(col).isNotNull()), F.col(col), max_groups,
        f"js_divergence({col}) side B",
    )

    def counts(d: DataFrame, name: str) -> DataFrame:
        return (
            d.where(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    joined = counts(df_a, "ca").join(counts(df_b, "cb"), "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    one = joined.agg(
        F.sort_array(F.collect_list(F.struct("v", "ca", "cb"))).alias("g"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")

    def term(s: F.Column) -> F.Column:
        p = s["ca"].cast("double") / na
        q = s["cb"].cast("double") / nb
        m = (p + q) / F.lit(2.0)
        lp = F.when(s["ca"] > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        lq = F.when(s["cb"] > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
        return F.lit(0.5) * lp + F.lit(0.5) * lq

    return one.select(
        F.lit(col).alias("column"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.size("g").cast("long").alias("n_values"),
        F.round(_ordered_fold(F.transform(F.col("g"), term)), 6).alias("value"),
    )


def chisq_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    max_groups: int = 100_000,
) -> DataFrame:
    """Pearson chi-square homogeneity statistic between two tables'
    categorical distributions of ``col`` → ONE row ``(column, n_a, n_b,
    n_values, dof, value)`` — the classical 2×k contingency test the
    reference's per-window pass/fail verdicts imply and Deequ exposes as
    its ChiSquare analyzer (there via mllib's ``ChiSquareTest``). Unlike
    PSI (which needs a bucket scheme) and JSD (bounded but scale-free),
    the chi-square statistic grows with N, making it the right alarm when
    the question is "is this difference bigger than sampling noise" —
    compare ``value`` against the chi-square quantile at ``dof = k - 1``
    driver-side (the p-value's incomplete-gamma is deliberately NOT
    computed in-plan; the statistic + dof are the engine-portable core).

    Cells with zero mass on BOTH sides can't occur (the category exists
    because one side counted it), and expected counts ``e = n_side *
    col_total / N`` are strictly positive whenever both sides are
    non-empty; an empty side yields a NULL value rather than a division
    blow-up.

    Plan: one count-groupBy per side (map-side combinable, cardinality
    guarded), a full-outer equi-join of the two tiny count tables, then a
    DETERMINISTIC value-sorted explicit left fold in one final row (the
    ``_ordered_fold`` discipline) — so a SQL replay folding the
    identically-sorted list is bit-identical at 6 dp, not merely close."""
    from .constraints import _guard_cardinality, _ordered_fold

    _guard_cardinality(
        df_a.where(F.col(col).isNotNull()), F.col(col), max_groups,
        f"chisq_drift({col}) side A",
    )
    _guard_cardinality(
        df_b.where(F.col(col).isNotNull()), F.col(col), max_groups,
        f"chisq_drift({col}) side B",
    )

    def counts(d: DataFrame, name: str) -> DataFrame:
        return (
            d.where(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    joined = counts(df_a, "ca").join(counts(df_b, "cb"), "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    one = joined.agg(
        F.sort_array(F.collect_list(F.struct("v", "ca", "cb"))).alias("g"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    n_tot = na + nb

    def term(s: F.Column) -> F.Column:
        cv = (s["ca"] + s["cb"]).cast("double")
        ea = na * cv / n_tot
        eb = nb * cv / n_tot
        da = s["ca"].cast("double") - ea
        db = s["cb"].cast("double") - eb
        return da * da / ea + db * db / eb

    stat = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.round(_ordered_fold(F.transform(F.col("g"), term)), 6),
    )
    return one.select(
        F.lit(col).alias("column"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.size("g").cast("long").alias("n_values"),
        (F.size("g") - 1).cast("long").alias("dof"),
        stat.alias("value"),
    )
