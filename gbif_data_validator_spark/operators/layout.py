"""Physical-layout and key-skew audits — planning tools for the 100 TB run.

Reference analog: the validator's "file splitter" sizing decision
(processor/DataFileProcessorMaster.java:199-208 picks a split size so each
actor gets a bounded chunk). On Spark the analogous planning inputs are
(a) the parquet file-size distribution — thousands of tiny files per
partition destroy scan throughput and driver listing time — and (b) the
join/group key skew profile, which decides whether a join key needs a
skew-resistant strategy (operators/skew.py) before it melts one reducer.

Both audits are single aggregations over metadata-cheap columns:
``input_file_name()`` is a per-row virtual column (no extra I/O), and the
skew audit reads only the key column (column pruning keeps the scan
narrow). Output is O(#files) / O(k) rows — driver-safe at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_rowcounts(df: DataFrame, file_col: str = "file") -> DataFrame:
    """Rows per physical input file (basename — path prefixes are
    environment noise). One narrow scan; output has one row per file."""
    base = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    return df.groupBy(base.alias(file_col)).agg(F.count(F.lit(1)).alias("n_rows"))


def layout_audit(
    spark: SparkSession, tables: dict[str, str], small_file_rows: int = 100_000
) -> DataFrame:
    """Per-table file census over ``{name: path}`` parquet tables:
    file count, min/max/total rows, and how many files fall under the
    small-file threshold. The scan per table touches zero data columns
    (count over input_file_name only)."""
    parts = []
    for name, path in sorted(tables.items()):
        counts = file_rowcounts(spark.read.parquet(path))
        parts.append(
            counts.agg(
                F.lit(name).alias("table"),
                F.count(F.lit(1)).alias("n_files"),
                F.sum("n_rows").alias("n_rows"),
                F.min("n_rows").alias("min_file_rows"),
                F.max("n_rows").alias("max_file_rows"),
                F.sum(
                    F.when(F.col("n_rows") < small_file_rows, 1).otherwise(0)
                ).alias("n_small_files"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def zorder_key(cols: list, mins: list, maxs: list, bits: int = 12):
    """Morton (Z-order) key over numeric columns: each value is linearly
    bucketed to [0, 2^bits) via ``width_bucket`` against its global
    min/max, then the bucket bits are interleaved. Files written sorted by
    this key have narrow min/max ranges on EVERY participating column, so
    parquet row-group stats prune scans on any of them — the Column-algebra
    form of Delta/Iceberg OPTIMIZE ZORDER (linear bucketing; quantile
    bucketing would need a per-column global sort and is the documented
    trade-off). ``shiftleft``/``shiftright`` take literal counts, so the
    interleave unrolls to 2·bits·n_cols codegen-friendly bit ops.

    ``bits * n_cols`` must fit a signed 64-bit key: JVM ``shiftleft`` wraps
    its count mod 64, which would silently interleave bits into WRONG
    positions (files still write, but cluster badly) — so the precision is
    auto-reduced to ``63 // n_cols`` instead."""
    n = len(cols)
    if bits * n > 63:
        bits = 63 // n
        if bits < 1:
            raise ValueError(f"zorder_key: too many columns to interleave ({n})")
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        v = F.col(c).cast("double") if isinstance(c, str) else c.cast("double")
        if hi is None or lo is None or not hi > lo:
            buckets.append(F.lit(0).cast("bigint"))
            continue
        b = F.width_bucket(v, F.lit(float(lo)), F.lit(float(hi)), F.lit((1 << bits) - 1))
        # width_bucket: NULL→NULL (sort first), 1..2^bits; shift to 0-based
        buckets.append((F.coalesce(b, F.lit(1)) - F.lit(1)).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def optimize_layout(
    df: DataFrame,
    path: str,
    by: list[str],
    target_rows_per_file: int = 1_000_000,
    zorder: bool = False,
    bits: int = 12,
) -> int:
    """Write ``df`` as a clustered parquet layout: ``repartitionByRange``
    into ceil(n/target) files, each sorted by the clustering key — the
    write-side fix for what ``layout_audit`` flags. Returns the file count.

    With ``zorder=False`` files are range-clustered on ``by`` (perfect
    skipping on the leading column). With ``zorder=True`` (numeric/
    timestamp columns) a Morton key interleaves all of ``by``, trading a
    little per-column locality for skipping on every column at once. Both
    paths are one count/min-max agg + one range shuffle; the range
    partitioner's sampling handles skew (equal-rows files, not equal-key-
    width), so a hot key never produces a jumbo file beyond its own rows.
    """
    agg = [F.count(F.lit(1)).alias("_n")]
    if zorder:
        for c in by:
            agg += [
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            ]
    stats = df.agg(*agg).collect()[0]
    n_files = max(1, -(-int(stats["_n"]) // target_rows_per_file))
    if zorder:
        key = zorder_key(
            by,
            [stats[f"_lo_{c}"] for c in by],
            [stats[f"_hi_{c}"] for c in by],
            bits=bits,
        ).alias("_zkey")
        out = (
            df.withColumn("_zkey", key)
            .repartitionByRange(n_files, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    else:
        out = df.repartitionByRange(n_files, *by).sortWithinPartitions(*by)
    out.write.mode("overwrite").parquet(path)
    return n_files


def key_skew_audit(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Top-k heaviest groups of ``key_col`` with their share of all rows —
    the key-skew measurement (the input to a join strategy: operators/skew.py
    or AQE skew-join). Two map-side-combinable key-column-only
    aggregations (the grouped-counts subtree is evaluated
    once per branch — top-k via TakeOrdered, totals via a 1-row agg;
    caching |groups| rows to share it would cost more than the second
    narrow scan at url-key scale). NULL keys count as a group (they hash
    to one reducer too — the classic silent skew).

    Deterministic: ties broken by key value ascending.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(
        F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_n_groups")
    )
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc_nulls_last()).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.col("_n_groups").alias("n_groups"),
        )
        .orderBy(F.col("n").desc(), F.col("key").asc_nulls_last())
    )


def join_explosion_audit(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight audit of an equi-join's EXACT output size from the two
    key histograms → top-k contributing keys as
    ``(key, n_left, n_right, n_out, total_out, share)`` — the "would this
    join explode?" check run BEFORE committing a many-to-many join at
    corpus scale. ``n_out = n_left · n_right`` per matched key;
    ``total_out`` (on every row) is the exact inner-join row count, at the
    cost of two key-column aggregations instead of the join itself — a
    hot key contributing 50% of a 10^13-row output is visible here for
    pennies, and the `share` column is the direct salting/broadcast
    decision input (the join-shaped sibling of ``key_skew_audit``).

    Plan: two map-side-combinable key-only groupBys, one equi-join of the
    two DISTINCT-KEY count tables (each far smaller than its input),
    top-k via TakeOrdered (no global sort materialization), totals via a
    1-row broadcast. NULL keys never match in an equi-join and are
    excluded, matching SQL join semantics. Ties broken by key value."""
    lc = (
        left.where(F.col(left_on).isNotNull())
        .groupBy(F.col(left_on).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.where(F.col(right_on).isNotNull())
        .groupBy(F.col(right_on).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    matched = lc.join(rc, "key").withColumn(
        "n_out", F.col("n_left") * F.col("n_right")
    )
    total = matched.agg(F.sum("n_out").alias("_total"))
    top = matched.orderBy(F.col("n_out").desc(), F.col("key")).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_left",
            "n_right",
            "n_out",
            F.col("_total").alias("total_out"),
            F.round(F.col("n_out") / F.col("_total"), 6).alias("share"),
        )
        .orderBy(F.col("n_out").desc(), F.col("key"))
    )


def partition_advisor(
    df: DataFrame,
    candidate_cols: list,
    min_partitions: int = 4,
    max_partitions: int = 10000,
    max_skew_micro: int = 500_000,
    max_null_micro: int = 200_000,
) -> DataFrame:
    """Which column should this table be partitioned by? One row per
    candidate: ``(column, n_rows, n_nulls, n_distinct, max_group_rows,
    skew_micro, null_micro, verdict)`` — the evidence table behind an
    Iceberg ``PARTITIONED BY`` choice, where every failure mode is a real
    100 TB incident: too many values → millions of tiny files; too few →
    no pruning or write parallelism; one dominant value → one straggler
    partition; null-heavy → a giant default partition. Verdict precedence
    (first match): ``too_few_values`` (n_distinct < min_partitions),
    ``too_many_values`` (> max_partitions), ``high_null`` (null share >
    max_null_micro), ``skewed`` (max non-null group share >
    max_skew_micro), else ``good``. Shares are exact integer micro-units
    (floor division) so the row hash-checks against a SQL oracle.

    Plan: ONE scan explodes each row into (column, value-as-string)
    pairs — n_candidates× the rows, but partial map-side aggregation
    collapses them to (column, value) counts before the single shuffle —
    then one column-grain agg over the count table. Exact distincts by
    design (they're the quantity being judged); at extreme cardinality
    the same shape runs on a sample, or swap the count table for the HLL
    profile sketches the engine already persists."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in candidate_cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.val")
    counts = pairs.groupBy("column", "val").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("column").agg(
        F.sum("c").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        ).alias("n_nulls"),
        F.count(F.when(F.col("val").isNotNull(), 1)).alias("n_distinct"),
        F.coalesce(
            F.max(F.when(F.col("val").isNotNull(), F.col("c"))), F.lit(0)
        ).alias("max_group_rows"),
    )
    scored = stats.select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "max_group_rows",
        F.expr("(1000000 * max_group_rows) div n_rows").alias("skew_micro"),
        F.expr("(1000000 * n_nulls) div n_rows").alias("null_micro"),
    )
    verdict = (
        F.when(F.col("n_distinct") < min_partitions, "too_few_values")
        .when(F.col("n_distinct") > max_partitions, "too_many_values")
        .when(F.col("null_micro") > max_null_micro, "high_null")
        .when(F.col("skew_micro") > max_skew_micro, "skewed")
        .otherwise("good")
    )
    return scored.withColumn("verdict", verdict)


def join_advisor(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str | None = None,
    broadcast_threshold_rows: int = 1_000_000,
    skew_share_micro: int = 200_000,
) -> DataFrame:
    """Which physical strategy should ``left ⋈ right`` use? ONE row of
    exact evidence + a verdict — the decision layer over
    `join_explosion_audit`'s per-key table: ``(n_left, n_right,
    n_left_keys, n_right_keys, n_left_null_keys, n_right_null_keys,
    est_out_rows, max_key_out_share_micro, verdict)``. ``est_out_rows``
    is the EXACT inner-join cardinality (Σ nl·nr over matched keys);
    the share is the heaviest key's fraction of it in integer
    micro-units. Verdict precedence: ``broadcast_right`` (right fits
    under ``broadcast_threshold_rows``), ``broadcast_left``,
    ``salted_shuffle`` (heaviest key exceeds ``skew_share_micro``),
    else ``shuffle``. Null keys never match (SQL semantics) and are
    reported — a null-heavy key column silently shrinks the join.

    Plan: one key-grain groupBy per side (NULL keys kept as a group so
    side stats need no second scan), one equi-join of the two count
    tables, two 1-row aggs. The inputs themselves are never joined."""
    right_on = right_on or left_on

    def side(df: DataFrame, key: str, tag: str) -> DataFrame:
        return df.groupBy(F.col(key).cast("string").alias("key")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}")
        )

    lc = side(left, left_on, "l")
    rc = side(right, right_on, "r")
    ls = lc.agg(
        F.sum("n_l").alias("n_left"),
        F.count(F.when(F.col("key").isNotNull(), 1)).alias("n_left_keys"),
        F.coalesce(
            F.sum(F.when(F.col("key").isNull(), F.col("n_l"))), F.lit(0)
        ).alias("n_left_null_keys"),
    )
    rs = rc.agg(
        F.sum("n_r").alias("n_right"),
        F.count(F.when(F.col("key").isNotNull(), 1)).alias("n_right_keys"),
        F.coalesce(
            F.sum(F.when(F.col("key").isNull(), F.col("n_r"))), F.lit(0)
        ).alias("n_right_null_keys"),
    )
    matched = (
        lc.where(F.col("key").isNotNull())
        .join(rc.where(F.col("key").isNotNull()), "key")
        .select((F.col("n_l") * F.col("n_r")).alias("n_out"))
    )
    out = matched.agg(
        F.coalesce(F.sum("n_out"), F.lit(0)).alias("est_out_rows"),
        F.coalesce(F.max("n_out"), F.lit(0)).alias("_max_out"),
    )
    row = ls.crossJoin(rs).crossJoin(out).withColumn(
        "max_key_out_share_micro",
        F.when(
            F.col("est_out_rows") > 0,
            F.expr("(1000000 * _max_out) div est_out_rows"),
        ).otherwise(F.lit(0).cast("long")),
    )
    verdict = (
        F.when(
            F.col("n_right") <= broadcast_threshold_rows, "broadcast_right"
        )
        .when(F.col("n_left") <= broadcast_threshold_rows, "broadcast_left")
        .when(
            F.col("max_key_out_share_micro") > skew_share_micro,
            "salted_shuffle",
        )
        .otherwise("shuffle")
    )
    return row.select(
        "n_left",
        "n_right",
        "n_left_keys",
        "n_right_keys",
        "n_left_null_keys",
        "n_right_null_keys",
        "est_out_rows",
        "max_key_out_share_micro",
        verdict.alias("verdict"),
    )


def manifest_audit(
    df: DataFrame, manifest: DataFrame, file_col: str = "file"
) -> DataFrame:
    """Snapshot-manifest integrity: reconcile the files a table's
    manifest DECLARES against the files its scan ACTUALLY yields — the
    table-format trust check (an Iceberg/Delta snapshot is only as good
    as its manifest; a retention bug or a partial copy silently serves
    wrong data until something reconciles declared vs actual).

    Reference analog: the resource-structure preflight
    (``validator-processor/.../evaluator/ResourceStructureEvaluator``
    contracts — "does the declared resource match what's on disk")
    lifted from one file to a file SET.

    ``manifest`` columns: ``file`` (basename) + ``n_rows`` (declared).
    Output (ordered, findings only): ``file``, ``finding`` ∈
    {``FILE_MISSING`` (declared, not scanned), ``FILE_ORPHAN``
    (scanned, not declared), ``ROWCOUNT_MISMATCH``}, ``n_rows_declared``,
    ``n_rows_actual``.

    Scale design (100 TB): the actual side is `file_rowcounts` — ONE
    narrow scan counting over the ``input_file_name()`` virtual column
    (no data columns read); both join sides are O(#files) rows, so the
    full-outer reconcile join is trivia after the scan. Declared-side
    row counts come from the manifest, never from re-reading data.
    """
    actual = file_rowcounts(df, file_col).select(
        F.col(file_col), F.col("n_rows").alias("n_rows_actual")
    )
    declared = manifest.select(
        F.col(file_col), F.col("n_rows").cast("long").alias("n_rows_declared")
    )
    j = declared.join(actual, file_col, "full_outer")
    finding = (
        F.when(F.col("n_rows_actual").isNull(), F.lit("FILE_MISSING"))
        .when(F.col("n_rows_declared").isNull(), F.lit("FILE_ORPHAN"))
        .when(
            F.col("n_rows_declared") != F.col("n_rows_actual"),
            F.lit("ROWCOUNT_MISMATCH"),
        )
    )
    return (
        j.select(
            file_col,
            finding.alias("finding"),
            "n_rows_declared",
            "n_rows_actual",
        )
        .where(F.col("finding").isNotNull())
        .orderBy(file_col)
    )
