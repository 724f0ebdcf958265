"""Distinct-first top-N violation sampling.

Reference analog: RecordEvaluationResultCollector keeps, per issue type, the
first N details with *distinct* input-values key, topping up to N from a
non-distinct overflow list (collector/RecordEvaluationResultCollector.java:
50-71, top-up :236-250); the input-values key is
``found + sorted(relatedData values)`` (api/model/
RecordEvaluationResultDetails.java:78-89). After a merge, samples are
re-sorted by line number and re-limited (collector/CollectorGroup.java:
179-186).

Spark design: two window functions over the violations DF, both inside
one hash partitioning by check_id (one Exchange).
  rank1 = row_number over (check_id, input_key) ordered by url  → "first
          occurrence of each distinct input"
  rank2 = row_number over (check_id) ordered by (is_distinct desc, url)
          → distinct-first, then overflow top-up, deterministic by url
The reference orders by line number; with unordered distributed input we
order by the stable record key (url) instead — same semantics, reproducible
goldens (SURVEY.md §7.4 "Sampling determinism").

Scale note: the windows shuffle only the violations DF (bounded: violation
rate × rows, further bounded per partition by upstream limits), never the
source table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import ident
from ..model import MAX_SAMPLES_PER_CHECK


#: computeInputValuesKey analog: found + sorted related_data values
INPUT_VALUES_KEY = (
    "concat_ws('-', coalesce(found, 'NULL'), "
    "concat_ws('-', array_sort(map_values(related_data))))"
)


def rank_samples(violations: DataFrame) -> DataFrame:
    """violations + ``input_key`` + ``sample_rank``: each check's rows ranked
    distinct-first (first occurrence of each input key by url), then the
    overflow, by url. The input is hash-partitioned by ``check_id`` once,
    and every window runs inside that partitioning: the plan has one
    Exchange, whatever further per-check windows a caller adds."""
    cols = [ident(c) for c in violations.columns]
    return (
        violations.repartition("check_id")
        .selectExpr("*", f"{INPUT_VALUES_KEY} AS input_key")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY check_id, input_key ORDER BY url) = 1 "
            "AS is_first_of_key",
        )
        .selectExpr(
            *cols,
            "input_key",
            "row_number() OVER (PARTITION BY check_id "
            "ORDER BY is_first_of_key DESC, url) AS sample_rank",
        )
    )


def distinct_first_samples(
    violations: DataFrame, max_samples: int = MAX_SAMPLES_PER_CHECK
) -> DataFrame:
    """≤ max_samples rows per check_id, distinct input-values keys first."""
    return rank_samples(violations).where(f"sample_rank <= {int(max_samples)}")


def hash_bucket(col: F.Column, n_buckets: int = 100) -> F.Column:
    """Deterministic [0, n_buckets) bucket from a stable content hash
    (md5 prefix — NOT xxhash/rand, so the assignment is reproducible across
    runs, engines, and languages; DuckDB computes the identical value).
    The building block for consistent sampling and train/test splits at
    corpus scale: a document's split follows its KEY, so re-runs, appends,
    and different clusters agree on membership — the property random
    sampling can't give without persisting a membership table."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % n_buckets).alias("bucket")


def deterministic_sample(
    df: DataFrame, id_col: str, pct: int, n_buckets: int = 100
) -> DataFrame:
    """Keep the rows whose hash bucket < pct — a stable pct/n_buckets
    sample (narrow, zero shuffles, pushes nothing but a filter into the
    plan)."""
    return df.where(hash_bucket(F.col(id_col), n_buckets) < pct)


def deterministic_split(
    df: DataFrame, id_col: str, test_pct: int = 10, n_buckets: int = 100
) -> DataFrame:
    """Label every row 'test' (bucket < test_pct) or 'train' — the
    train/test split as a derived column, so downstream passes filter on it
    without a second hash computation."""
    b = hash_bucket(F.col(id_col), n_buckets)
    return df.withColumn(
        "split", F.when(b < test_pct, F.lit("test")).otherwise(F.lit("train"))
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, int],
    default_pct: int = 0,
    n_buckets: int = 100,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash bucket
    < its stratum's pct — the primitive behind per-domain / per-language
    downsampling when rebalancing a training mix (boilerplate-heavy
    domains sampled down, rare languages kept whole).

    The rate map compiles into the plan as a literal MAP expression — no
    join, no shuffle, just a narrow filter; membership follows the KEY
    (`hash_bucket`), so re-runs, appends, and different engines agree on
    every row's fate. Strata missing from ``rates`` fall back to
    ``default_pct``. At 100 TB this is scan + filter: Catalyst pushes the
    projection, and the map lookup is constant-time per row."""
    mapping = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    pct = F.coalesce(mapping[F.col(strata_col)], F.lit(default_pct))
    return df.withColumn("bucket", hash_bucket(F.col(id_col), n_buckets)).where(
        F.col("bucket") < pct
    )


def top_n_by_key(df: DataFrame, partition_col: str, order_col: str, n: int) -> DataFrame:
    """Generic top-N per group (reference W3: samples sorted by lineNumber,
    limit 10 — collector/CollectorGroup.java:179-186)."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n).drop("_rn")
    )


def resample_by_weight(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic resampling WITH replacement: each row is emitted
    ``floor(w)`` times plus one more iff its hash bucket falls under the
    fractional part — so a stratum with weight 2.5 is exactly 2.5× larger
    in expectation, and every doc's copy count is a pure function of its
    key. This is the upsampling half of mix weighting (epochs > 1 for
    rare, high-quality sources) that :func:`stratified_sample` (w ≤ 1)
    can't express; w < 1 degrades to keep-probability sampling with the
    identical hash so the two operators agree on membership.

    Output appends ``copy`` (0-based replica index) — downstream packing
    keys on (id, copy) so replicas land in different batches.

    Plan: the weight map compiles to a literal MAP; copies come from
    ``explode(sequence(...))`` — a narrow generate, zero shuffles, zero
    joins, and output size = Σ w_s·|s| exactly (no rejection step)."""
    mapping = F.create_map(
        *[c for k, v in weights.items() for c in (F.lit(k), F.lit(float(v)))]
    )
    w = F.coalesce(mapping[F.col(strata_col)], F.lit(float(default_weight)))
    frac_pct = ((w - F.floor(w)) * n_buckets).cast("long")
    extra = (hash_bucket(F.col(id_col), n_buckets) < frac_pct).cast("long")
    n_copies = (F.floor(w).cast("long") + extra).cast("int")
    return (
        df.withColumn("_n_copies", n_copies)
        .where(F.col("_n_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row draws ``key = u^(1/w)`` and the k largest keys win — the
    classic one-pass distributed algorithm (inclusion probability
    proportional to weight, no replacement bookkeeping, no global state).

    The uniform ``u ∈ (0, 1]`` derives from the row's md5 prefix (the
    house ``hash_bucket`` idiom), NOT ``rand()`` — so the "random" sample
    is reproducible across runs, engines and cluster sizes, and the
    oracle replays it exactly. Keys are rounded to 9 dp with an id
    tie-break so libm ``pow`` ulp differences can't flip the cut.

    Plan shape: narrow per-row key computation + global top-k
    (``TakeOrderedAndProject``: per-partition heaps, only k rows per
    partition reach the driver-side merge) — no full sort, no shuffle of
    the corpus. Rows with NULL or non-positive weight are excluded by
    contract (A-ES requires w > 0)."""
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): split a
    ``total_n``-row sample budget across strata proportionally to
    ``N_h·σ_h`` — minimum-variance for estimating the mean of
    ``value_col`` — → one row per stratum ``(stratum, n_rows, weight,
    quota, alloc_n, over_allocated)`` with ``Σ alloc_n == total_n``
    EXACTLY (largest-remainder rounding, deterministic ties).

    Proportional sampling oversamples boring homogeneous strata; the
    Neyman weight spends budget where the measure actually varies — the
    principled upgrade of `stratified_sample`'s equal/proportional modes
    for profile-estimation jobs ("estimate mean doc quality to ±ε").

    Exactness discipline: values quantize to micro-units
    (``round(v·10^6)`` BIGINT — the calibration_curve rule), moments
    accumulate in DECIMAL(38,0), and the per-stratum weight is
    ``sqrt(N_h·Σv² − (Σv)²)`` ( = N_h·σ_h up to the common 10^6 factor,
    which cancels in the shares) — ONE correctly-rounded IEEE sqrt per
    stratum of an exact integer, identical in every engine. The share
    denominator folds over the STRATUM-SORTED weight list
    (``_ordered_fold`` discipline), quotas floor to a base, and the
    ``total_n − Σbase`` leftovers go to the largest fractional parts
    (stratum-asc tie-break). All-zero-variance corpora fall back to
    allocation ∝ N_h (documented; weight column still reports 0).
    ``over_allocated`` flags strata whose quota exceeds their row count
    (a finding — capping + redistribution is the caller's policy call).

    Plan: ONE scan → per-stratum moment agg (map-side combinable); the
    fold, rounding, and rank all run over the |strata|-row table (one
    bounded collect_list — strata are host/source-grain by contract).
    NULL values are excluded from moments but still counted in ``n_rows``
    (they can be SAMPLED, they just carry no variance evidence).
    """
    if total_n < 0:
        raise ValueError(f"neyman_allocation: total_n must be >= 0, got {total_n}")
    from .constraints import _ordered_fold

    v_micro = F.round(F.col(value_col).cast("double") * 1_000_000).cast("long")
    strata = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(v_micro.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("s1"),
        F.coalesce(
            F.sum(v_micro.cast("decimal(19,0)") * v_micro.cast("decimal(19,0)"))
            .cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s2"),
        F.count(v_micro).cast("long").alias("n_vals"),
    )
    weighted = strata.select(
        "stratum",
        "n_rows",
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (
                    F.col("n_vals").cast("decimal(38,0)") * F.col("s2")
                    - F.col("s1") * F.col("s1")
                ).cast("double"),
            )
        ).alias("weight"),
    )
    one = weighted.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("stratum", "n_rows", "weight"))
        ).alias("g")
    )
    w_total = _ordered_fold(F.transform(F.col("g"), lambda s: s["weight"]))
    n_total = F.aggregate(
        F.transform(F.col("g"), lambda s: s["n_rows"]),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # zero-variance fallback: allocate proportionally to stratum size
    share = lambda s: F.when(  # noqa: E731
        w_total > 0, s["weight"] / w_total
    ).otherwise(s["n_rows"].cast("double") / n_total.cast("double"))
    staged = one.select(
        F.explode(
            F.transform(
                F.col("g"),
                lambda s: F.struct(
                    s["stratum"].alias("stratum"),
                    s["n_rows"].alias("n_rows"),
                    s["weight"].alias("weight"),
                    (F.lit(float(total_n)) * share(s)).alias("quota"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    based = staged.select(
        "stratum",
        "n_rows",
        # weight/quota stay UNROUNDED: sqrt and the share ops are
        # correctly-rounded IEEE on both engines, so the exact doubles
        # hash-match — while round(x, 6) itself differs between Java
        # HALF_UP and DuckDB's scaled-multiply at boundary values
        "weight",
        "quota",
        F.floor("quota").cast("long").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("frac"),
    )
    w_all = Window.partitionBy(F.lit(1))
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.col("frac").desc(), F.col("stratum").asc()
    )
    return (
        based.select(
            "stratum",
            "n_rows",
            "weight",
            "quota",
            "base",
            F.row_number().over(w_rank).cast("long").alias("_rk"),
            F.sum("base").over(w_all).alias("_base_sum"),
        )
        .select(
            "stratum",
            "n_rows",
            "weight",
            "quota",
            (
                F.col("base")
                + F.when(
                    F.col("_rk") <= F.lit(total_n) - F.col("_base_sum"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long").alias("alloc_n"),
        )
        .withColumn("over_allocated", F.col("alloc_n") > F.col("n_rows"))
    )


def sampled_violation_estimate(
    df: DataFrame,
    violations_fn,
    check_ids: "list[str]",
    id_col: str = "doc_id",
    pct: int = 10,
    n_buckets: int = 100,
    z: float = 1.96,
) -> DataFrame:
    """Approximate validation: run a check battery on a deterministic
    ``pct``/``n_buckets`` hash sample and estimate the FULL-corpus
    per-check violation rate with a Wilson score interval →
    ``(check_id, sample_n, violations, rate_micro, wilson_lo_micro,
    wilson_hi_micro)``, one row per declared check (zero-violation checks
    included — their upper bound is the informative part).

    This is the 100-TB triage mode: a 1% sample bounds every check's rate
    to ±z·√(p(1−p)/n) at 1% of the scan cost, deciding which checks merit
    the full pass. Membership follows `hash_bucket` (md5-prefix), so the
    sample — and therefore the estimate — is reproducible across runs,
    engines, and cluster sizes; no ``rand()`` anywhere.

    Exactness: the interval is fixed-order IEEE double arithmetic
    (div/mul/add/sqrt — ALL correctly rounded per IEEE-754, including
    sqrt) over exact integer counts, so a SQL engine replays the micro
    values bit-for-bit. Bounds clamp to [0, 1] (``greatest``/``least``)
    because ``center − half`` may round a hair below zero at v=0.

    ``violations_fn`` maps the sampled DataFrame → violation rows with a
    ``check_id`` column (e.g. a pass-1 battery). Plan: sample filter is a
    narrow pushed predicate; one check-grain groupBy (output bounded by
    |check_ids|); the 1-row sample count broadcast-crossJoins on (the
    house 1-row-stats pattern). Driver sees |check_ids| rows.
    """
    if not check_ids:
        raise ValueError("sampled_violation_estimate: no check_ids declared")
    if not 0 < pct <= n_buckets:
        raise ValueError("sampled_violation_estimate: pct outside (0, n_buckets]")
    sample = deterministic_sample(df, id_col, pct, n_buckets)
    counts = violations_fn(sample).groupBy("check_id").agg(
        F.count(F.lit(1)).alias("violations")
    )
    checks = df.sparkSession.createDataFrame(
        [(c,) for c in sorted(set(check_ids))], "check_id string"
    )
    n1 = sample.agg(F.count(F.lit(1)).alias("sample_n"))
    out = (
        checks.join(counts, "check_id", "left")
        .na.fill({"violations": 0})
        .crossJoin(F.broadcast(n1))
    )
    z2 = z * z
    n_d = F.col("sample_n").cast("double")
    v_d = F.col("violations").cast("double")
    phat = v_d / n_d
    denom = F.lit(1.0) + F.lit(z2) / n_d
    center = (phat + F.lit(z2) / (F.lit(2.0) * n_d)) / denom
    half = (
        F.lit(z)
        * F.sqrt(
            (phat * (F.lit(1.0) - phat)) / n_d
            + F.lit(z2) / (F.lit(4.0) * (n_d * n_d))
        )
    ) / denom
    ok = F.col("sample_n") > 0
    return out.select(
        "check_id",
        F.col("sample_n").cast("long").alias("sample_n"),
        F.col("violations").cast("long").alias("violations"),
        F.when(ok, F.floor(F.lit(1e6) * phat)).cast("long").alias("rate_micro"),
        F.when(ok, F.floor(F.lit(1e6) * F.greatest(F.lit(0.0), center - half)))
        .cast("long")
        .alias("wilson_lo_micro"),
        F.when(ok, F.floor(F.lit(1e6) * F.least(F.lit(1.0), center + half)))
        .cast("long")
        .alias("wilson_hi_micro"),
    ).orderBy("check_id")
