"""Pass 3 — per-column metrics in ONE aggregation scan.

Reference analogs:
- term frequency (non-blank count per column): TermsFrequencyCollector
  (collector/TermsFrequencyCollector.java:18-45)
- interpreted-term counts: InterpretedTermsCountCollector
  (collector/InterpretedTermsCountCollector.java:44-51)
- partial→final merge of collectors: CollectorGroup.mergeAndGetResult
  (collector/CollectorGroup.java:80-141) — free in Spark (HashAggregateExec
  partial/final).

North-star extensions: distinct counts via HyperLogLog
(``approx_count_distinct``) and length histograms via equi-depth quantiles
(``percentile_approx``) — both are built-in sketch aggregates that merge
associatively, so the whole profile is one shuffle of constant-size state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.predicates import non_blank, non_blank_sql
from ..functions.sqltext import double, doubles, ident
from .sampling import rank_samples


def _non_blank(c: str) -> F.Column:
    return F.count(F.when(non_blank(F.col(c)), 1))


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    length_cols: list[str] | None = None,
    hll_rsd: float = 0.02,
    n_quantiles: int = 11,
) -> DataFrame:
    """One-row profile DF: per column → non_blank count, null count,
    approx distinct (HLL), and for ``length_cols`` the length quantiles.
    Single scan, single (tiny) shuffle of sketch state."""
    columns = columns or [c for c in df.columns if c != "html"]
    length_cols = length_cols if length_cols is not None else [c for c in columns if c in ("text",)]
    qs = [i / (n_quantiles - 1) for i in range(n_quantiles)]

    aggs: list[F.Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(_non_blank(c).alias(f"{c}_non_blank"))
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls"))
        aggs.append(F.approx_count_distinct(c, rsd=hll_rsd).alias(f"{c}_approx_distinct"))
    for c in length_cols:
        aggs.append(
            F.percentile_approx(F.length(F.col(c)), qs, 10000).alias(f"{c}_len_quantiles")
        )
        aggs.append(F.avg(F.length(F.col(c))).alias(f"{c}_len_avg"))
    return df.agg(*aggs)


def partitioned_profile(
    df: DataFrame,
    partition_col: str,
    columns: list[str] | None = None,
    length_cols: list[str] | None = None,
    hll_rsd: float = 0.05,
    n_quantiles: int = 11,
    drift_metric: F.Column | str | None = None,
    drift_probs: list[float] | None = None,
    drift_accuracy: int = 10000,
    mergeable: bool = False,
) -> DataFrame:
    """ROLLUP(partition) column profile: one aggregation pass emits BOTH the
    per-partition rows (n_rows + stats per warc_ts window — feeds checkpoint
    lineage) AND the grand-total row (partition IS NULL — the run-level
    profile). Fusing these halves the engine's scans and collapses two Spark
    jobs into one; sketch state merges associatively so rollup costs only
    #partitions extra states. ``columns`` defaults to every column but
    ``html`` and ``partition_col``; an explicit ``[]`` profiles none (only
    ``n_rows`` and the drift sketch).

    ``drift_metric`` (a null-masked Column or its SQL text, e.g.
    length(text) where warc_ts is non-null) additionally emits ``drift_n`` +
    ``drift_q`` — the per-partition and pooled (grand row) equi-probability
    quantile sketches the KS drift check needs, so drift costs NO extra
    scan: the engine computes the KS max-gap driver-side from these
    collected vectors.

    ``mergeable=True`` additionally emits a ``{col}_hll`` datasketches HLL
    binary per column (``hll_sketch_agg``; values cast to string — same
    cardinality, and the sketch accepts timestamps that way). Unlike
    ``approx_count_distinct``'s internal state, these binaries are
    PERSISTABLE and union across runs (``hll_union_agg``) — what lets an
    incremental run merge stored per-window profiles into a whole-table
    profile without rescanning validated history.

    The aggregates are parsed SQL text (``functions/sqltext.py``); a Column
    ``drift_metric`` is first projected as ``_drift_metric``."""
    if columns is None:
        columns = [c for c in df.columns if c not in ("html", partition_col)]
    length_cols = (
        length_cols if length_cols is not None else [c for c in columns if c == "text"]
    )
    qs = doubles(i / (n_quantiles - 1) for i in range(n_quantiles))
    aggs = ["count(1) AS n_rows"]
    for c in columns:
        q = ident(c)
        aggs += [
            f"count(CASE WHEN {non_blank_sql(q)} THEN 1 END) AS {ident(c + '_non_blank')}",
            f"count(CASE WHEN {q} IS NULL THEN 1 END) AS {ident(c + '_nulls')}",
            f"approx_count_distinct({q}, {double(hll_rsd)}) AS {ident(c + '_approx_distinct')}",
        ]
        if mergeable:
            aggs.append(f"hll_sketch_agg(CAST({q} AS STRING)) AS {ident(c + '_hll')}")
    for c in length_cols:
        q = ident(c)
        aggs += [
            f"percentile_approx(length({q}), {qs}, 1000) AS {ident(c + '_len_quantiles')}",
            f"avg(length({q})) AS {ident(c + '_len_avg')}",
        ]
    if drift_metric is not None:
        from .drift import PROBS as _DRIFT_PROBS

        if not isinstance(drift_metric, str):
            df = df.withColumn("_drift_metric", drift_metric)
            drift_metric = "_drift_metric"
        probs = doubles(drift_probs if drift_probs is not None else _DRIFT_PROBS)
        aggs.append(f"count({drift_metric}) AS drift_n")
        aggs.append(
            f"percentile_approx({drift_metric}, {probs}, {int(drift_accuracy)}) AS drift_q"
        )
    return df.rollup(F.expr(ident(partition_col))).agg(*(F.expr(a) for a in aggs))


def term_frequency(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Exact TermsFrequencyCollector semantics: count of non-blank cells per
    column, zero-initialized from the header (CollectorUtils analog — a
    column with no non-blank cells still reports 0)."""
    columns = columns or df.columns
    return df.agg(*[_non_blank(c).alias(c) for c in columns])


def interpreted_counts(df: DataFrame, typed_cols: dict[str, F.Column]) -> DataFrame:
    """Count records whose *interpreted* (typed/derived) value is non-null —
    InterpretedTermsCountCollector analog. ``typed_cols`` maps output name →
    derivation expression (e.g. to_timestamp of a string column)."""
    return df.agg(*[F.count(expr).alias(name) for name, expr in typed_cols.items()])


def frequent_values(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Exact top-k most frequent values of a column: → (value, n, rank),
    NULLs excluded, ties broken by value for determinism. One hash agg
    (partial+final) over the column, then a top-k over the (distinct-value-
    sized) aggregate — the profiler companion to term_frequency. At high
    cardinality prefer the HLL/sketch profile; this operator is for
    enumerable columns (lang, status, media_type)."""
    from pyspark.sql import Window

    c = F.col(col)
    counts = df.where(c.isNotNull()).groupBy(c.alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def length_histogram(df: DataFrame, col: str, width: int) -> DataFrame:
    """Exact fixed-width histogram of a numeric column: → (bucket, n, lo, hi)
    where bucket = floor(col / width). One hash agg whose output cardinality
    is the number of occupied buckets (bounded by value range / width, never
    by row count) — the exact-histogram companion to the equi-depth
    ``percentile_approx`` sketches in ``column_profile``. NULLs are excluded
    (they are already counted by the profile's null counters)."""
    c = F.col(col)
    return (
        df.where(c.isNotNull())
        .groupBy(F.floor(c / F.lit(width)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(c).alias("lo"),
            F.max(c).alias("hi"),
        )
    )


def stratum_rollup(
    df: DataFrame, strata_col: str, text_col: str, size_col: str,
    lang_col: str = "lang",
) -> DataFrame:
    """Per-stratum curation rollup — the per-domain/per-source health table
    a corpus curator reads before weighting a training mix: doc counts,
    null-text counts, size sums/means, language spread, token volume, and
    the high-quality share. ONE hash agg (map-side partials, output
    cardinality = #strata, never row count).

    Every aggregate is integer-sum-based or an order statistic so the
    result is summation-order-independent (deterministic under any
    partitioning — float avg of doubles would not be): the mean is derived
    from the exact integer sum at the end."""
    from ..functions.textstats import quality_score, ws_token_count

    size = F.col(size_col)
    return (
        df.groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col(text_col).isNull(), 1)).alias("n_null_text"),
            F.sum(F.coalesce(size, F.lit(0))).alias("sum_size"),
            F.countDistinct(lang_col).alias("n_langs"),
            F.sum(ws_token_count(F.col(text_col)).cast("long")).alias("sum_ws_tokens"),
            F.count(F.when(quality_score(F.col(text_col)) >= 0.5, 1)).alias("n_hi_quality"),
        )
        .withColumn(
            "avg_size",
            F.round(F.col("sum_size").cast("double") / F.col("n_docs"), 6),
        )
    )


def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style top-n-gram repetition metric per document: the most
    frequent word n-gram, its count, and the fraction of the text's chars
    it covers (count x len(gram) / len(text)) — the standard boilerplate
    signal for crawl filtering. → (doc_id, top_gram, n_occurrences,
    char_frac); docs with no n-gram are absent.

    Plan: explode n-grams (narrow), ONE corpus-sized hash agg on
    (doc, gram) with map-side partial aggregation, then a per-doc top-1
    window over the gram-distinct aggregate (output cardinality, not row
    cardinality). Ties break by (longer gram, lexicographic) so the result
    is deterministic and SQL-oracle-checkable."""
    from pyspark.sql import Window

    ws = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
    )
    g = (
        df.where(F.col(text_col).isNotNull() & (F.size(ws) >= n))
        .select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).alias("n_chars_doc"),
            F.explode(grams).alias("gram"),
        )
    )
    counts = g.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.first("n_chars_doc").alias("n_chars_doc"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_occurrences").desc(),
        F.length("gram").desc(),
        F.col("gram"),
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("gram").alias("top_gram"),
            "n_occurrences",
            F.round(
                F.col("n_occurrences") * F.length("gram")
                / F.col("n_chars_doc").cast("double"),
                6,
            ).alias("char_frac"),
        )
    )


#: Gopher repetition thresholds (Rae et al. 2021, table A1): a document
#: FAILS the battery when any fraction exceeds its bound. top-n-gram
#: bounds cover n=2..4; duplicated-n-gram bounds cover n=5..10.
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def dup_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The COMPLETE Gopher n-gram repetition battery per document (the
    other half of ``gopher_gates`` — reference analog: the record-level
    quality gates of RecordEvaluationResult, re-aimed at crawl text):

    - ``top_{n}gram_char_frac`` for n in ``top_ns`` — chars covered by the
      MOST FREQUENT word n-gram (count × chars(gram), capped at 1.0 of the
      document's char length; overlapping occurrences double-count, hence
      the cap — the standard published formulation counts coverage the
      same way).
    - ``dup_{n}gram_char_frac`` for n in ``dup_ns`` — chars covered by ALL
      n-grams occurring ≥ 2 times (sum of count × chars(gram), same cap).
    - one ``gate_*`` boolean per fraction (≤ its Gopher threshold) and the
      conjunction ``rep_passes``.

    Documents with fewer than min(n) tokens have no n-grams: every
    fraction is 0.0 and every gate passes (a 3-word page is not
    "repetitive"). All occurrence counts are integers and each fraction is
    one INT×INT product over a DOUBLE division rounded to 6 dp, so a SQL
    replay is hash-identical.

    Plan (scale shape): ONE tokenize feeds a single tagged explode for ALL
    n at once (each token row fans out ~|ns| gram rows — the honest cost
    of the signal), then ONE corpus-sized (doc, n, gram) hash agg with
    map-side partial aggregation (the wordcount shuffle), a (doc, n) agg
    computing the deterministic top gram (min over (−count, gram) structs
    — count desc, gram asc tie) and the duplicated-char sum TOGETHER, and
    a per-doc conditional pivot. No window over corpus-sized input, no
    join back to the text, nothing all-pairs."""
    thresholds = dict(GOPHER_REP_THRESHOLDS if thresholds is None else thresholds)
    ns = sorted(set(top_ns) | set(dup_ns))
    ws = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    empty = F.array().cast("array<struct<n:int,gram:string>>")

    def _tagged_grams(n: int) -> F.Column:
        # single-parameter lambda on purpose: a 2-arg lambda would make
        # F.transform pass (element, index) and shadow the closed-over n
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.struct(
                    F.lit(n).cast("int").alias("n"),
                    F.array_join(F.slice(ws, i + 1, n), " ").alias("gram"),
                ),
            ),
        ).otherwise(empty)

    parts = [_tagged_grams(n) for n in ns]
    g = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).alias("n_chars_doc"),
            F.explode(F.flatten(F.array(*parts))).alias("t"),
        )
        .select(
            "doc_id",
            "n_chars_doc",
            F.col("t.n").alias("n"),
            F.col("t.gram").alias("gram"),
        )
    )
    counts = g.groupBy("doc_id", "n_chars_doc", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per = counts.groupBy("doc_id", "n_chars_doc", "n").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("negc"), F.col("gram").alias("gram"))
        ).alias("top"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram"))
        ).alias("dup_chars"),
    )
    top_frac = F.round(
        F.least(
            F.lit(1.0),
            ((-F.col("top.negc")) * F.length(F.col("top.gram"))).cast("double")
            / F.col("n_chars_doc"),
        ),
        6,
    )
    dup_frac = F.round(
        F.least(
            F.lit(1.0),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
            / F.col("n_chars_doc"),
        ),
        6,
    )
    frac_cols = [(f"top_{n}gram_char_frac", n, top_frac) for n in top_ns] + [
        (f"dup_{n}gram_char_frac", n, dup_frac) for n in dup_ns
    ]
    wide = per.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, frac)).alias(name)
            for name, n, frac in frac_cols
        ]
    )
    out = df.select(F.col(id_col).alias("doc_id")).join(wide, "doc_id", "left")
    for name, _, _ in frac_cols:
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(0.0)))
    gate_names = []
    for name, _, _ in frac_cols:
        gname = "gate_" + name.replace("_char_frac", "")
        gate_names.append(gname)
        out = out.withColumn(gname, F.col(name) <= F.lit(float(thresholds[name])))
    passes = None
    for gname in gate_names:
        passes = F.col(gname) if passes is None else (passes & F.col(gname))
    return out.withColumn("rep_passes", passes)


def issue_counts(violations: DataFrame) -> DataFrame:
    """count by check_id — RecordEvaluationResultCollector counter map
    (collector/RecordEvaluationResultCollector.java:50-71). Partial+final
    agg; output cardinality = number of check types (tiny)."""
    return violations.groupBy("check_id").agg(F.count(F.lit(1)).alias("n"))


def issue_counts_by_partition(violations: DataFrame) -> DataFrame:
    """count by (partition_id, check_id) — feeds per-partition verdicts and
    the checkpoint table's violations_by_check map."""
    return violations.groupBy("partition_id", "check_id").agg(
        F.count(F.lit(1)).alias("n")
    )


def violation_report(violations: DataFrame, max_samples: int) -> DataFrame:
    """The report pass as one query: the rows of ``violations`` that are a
    distinct-first sample (``sample_rank <= max_samples``) or the first row
    of their ``(check_id, partition_id)`` cell, which carries the cell's
    count ``n`` (null on every other row). Folding the rows gives exactly
    ``issue_counts_by_partition`` and ``distinct_first_samples``; the
    count window runs inside the samples' check_id partitioning, so the
    plan has one Exchange and the driver collects at most
    #cells + #checks × max_samples rows."""
    cell = "PARTITION BY check_id, partition_id"
    return rank_samples(violations).selectExpr(
        "check_id",
        "partition_id",
        "url",
        "expected",
        "found",
        "sample_rank",
        f"CASE WHEN row_number() OVER ({cell} ORDER BY sample_rank) = 1 "
        f"THEN count(1) OVER ({cell}) END AS n",
    ).where(f"sample_rank <= {int(max_samples)} OR n IS NOT NULL")


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """→ (id, term, tf, df, tfidf, rk): top-``k`` TF-IDF terms per document
    (whitespace tokens, lowercased; tfidf = tf · ln(N/df), rounded to 6 so
    the score is cross-engine stable). The per-doc keyword signal used for
    topic tagging and near-dup triage in corpus curation.

    Plan: ONE tokenize+explode feeds everything. Document frequency is a
    window count over the (doc, term) rows — NOT a separate aggregation
    joined back, which would make Spark re-derive the whole tokenize
    lineage a second time (no subplan sharing without caching) and double
    the dominant cost. N is a separate column-pruned count scan (trivial
    next to the explode). Three shuffles total — (doc, term), term, doc —
    no joins; the hot-stopword term partition is the classic skew key, but
    its input is already one row per (doc, term), never one per
    occurrence."""
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"))
    )
    tf = (
        base.select(id_col, F.explode("_toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = base.select(F.count(F.lit(1)).alias("_n"))
    wdf = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


def exact_heavy_hitters(
    df: DataFrame,
    col: str,
    min_count: int,
    n_buckets: int = 4096,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """→ (value, n): every value of ``col`` whose EXACT count ≥ ``min_count``
    — the scale path for "top values of a high-cardinality column" (hot
    URLs, hot domains, vocabulary census) where ``frequent_values``'s plain
    groupBy would shuffle one row per *distinct value* (billions of URLs at
    10^12 docs).

    Two-pass hot-bucket plan (exact, not sketch-approximate):

    1. Hash every value into ``n_buckets`` buckets (``xxhash64`` — stable
       across runs) and count per bucket: map-side partial aggregation
       means the shuffle carries ≤ ``n_buckets`` rows per input partition
       regardless of value cardinality. A bucket's count upper-bounds every
       member value's count, so buckets with count < min_count can contain
       no heavy hitter — drop them.
    2. Re-scan, keep only rows landing in hot buckets (broadcast hash
       semi-join against the ≤ n_buckets hot-bucket ids — no shuffle), and
       group exactly by value. The second shuffle's cardinality is the
       number of distinct values in hot buckets — at a web-scale skew
       profile (few hot values, long uniform tail) that is a tiny fraction
       of the distinct-value count, because a uniform tail spread over
       n_buckets rarely lifts a bucket past min_count.

    Exactness does not depend on the bucket count — a colliding tail value
    only inflates a bucket (more pass-2 work), never a final count; the
    final ``n >= min_count`` filter is applied to exact per-value counts.
    ``n_buckets`` is the knob trading pass-1 state for pass-2 selectivity.
    With ``group_cols`` the same two-pass plan runs at the (groups ×
    bucket) grain — per-language vocabulary census, per-source hot URLs —
    and the hot list stays broadcast-bounded at groups × n_buckets.
    Reference analog: the termed-value counters of
    collector/TermsFrequencyCollector.java:18-45, generalized to columns
    whose distinct-value set does not fit one counter map."""
    c = F.col(col)
    gcols = list(group_cols or [])
    vals = df.where(c.isNotNull()).select(*gcols, c.alias("value"))
    bucket = F.pmod(F.xxhash64("value"), F.lit(n_buckets))
    hot = (
        vals.groupBy(*gcols, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .where(F.col("n_bucket") >= min_count)
        .select(*gcols, "bucket")
    )
    return (
        vals.withColumn("bucket", bucket)
        .join(F.broadcast(hot), gcols + ["bucket"])
        .groupBy(*gcols, "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )


def group_majority_mismatch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    min_group: int = 2,
) -> DataFrame:
    """Minority-value census per group: for every group whose rows do
    not all agree on ``value_col``, one row per MINORITY value →
    ``(group, value, n, majority_value, n_majority, n_group)`` — the
    cross-record consistency check behind "this page says lang=de but
    its host is 95% French" (host-majority language disagreement, the
    corpus-level complement of the per-row lang/script CustomCheck) and
    equally usable for charset-per-domain or mime-per-path audits.

    The majority is deterministic: highest count, ties broken by the
    SMALLEST value string — so two engines (and two cluster sizes)
    always elect the same winner. NULL values are excluded (null-ness
    is the completeness rules' job). Groups with fewer than
    ``min_group`` rows are skipped — a 1-page host has no meaningful
    majority.

    Plan: ONE (group, value)-grain hash agg over the table (map-side
    combinable), then all remaining work — the per-group total, the
    window argmax, the minority filter — runs on the count table, which
    is ≤ |groups| × |values| rows, never |table|. Both window passes
    share the same partitioning key, so at 10^12 rows this is one big
    shuffle plus bounded small ones; a hot host collapses to one count
    row per (host, lang) before any window sees it."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("group"),
            F.col(value_col).cast("string").alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wg = Window.partitionBy("group")
    ranked = counts.withColumn(
        "n_group", F.sum("n").over(wg)
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("group").orderBy(
                F.col("n").desc(), F.col("value").asc()
            )
        ),
    )
    maj = ranked.where(F.col("_rn") == 1).select(
        "group",
        F.col("value").alias("majority_value"),
        F.col("n").alias("n_majority"),
    )
    return (
        ranked.where((F.col("_rn") > 1) & (F.col("n_group") >= min_group))
        .select("group", "value", "n", "n_group")
        .join(maj, "group")
        .select(
            "group", "value", "n", "majority_value", "n_majority", "n_group"
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
) -> DataFrame:
    """Zipf power-law fit over the corpus term-frequency census → ONE row
    ``(n_terms, k, slope, intercept, r2)``: OLS on (ln rank, ln count)
    over the top-``top_k`` terms. Natural-language corpora sit near
    slope ≈ −1 with high r²; template farms, boilerplate floods, and
    generated spam bend the curve (flat head or collapsed tail, low r²)
    — a one-number corpus-health alarm no per-document quality gate
    sees, complementing lexical_diversity (per-doc) and top_ngram
    (per-doc repetition) at the whole-corpus grain.

    Determinism/exactness: the top-k cut orders (count desc, term asc);
    ranks come from a window over that ≤ top_k-row aggregate (bounded,
    single partition by construction); the five OLS sums fold over the
    RANK-SORTED list with the ``_ordered_fold`` discipline and a fixed
    operation order in the closed-form slope/intercept/r², so a SQL
    replay is hash-identical at 6 dp. Fewer than 2 distinct terms →
    NULL fit fields.

    Plan: one term-grain hash agg over the exploded corpus (map-side
    combinable — THE standard wordcount shuffle), a TakeOrderedAndProject
    for the cut, and everything after runs on ≤ top_k rows; the
    vocabulary size rides along as a 1-row agg crossJoined in (the
    house 1-row-broadcast pattern)."""
    from .constraints import _ordered_fold

    terms = df.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term")
    ).where(F.col("term") != "")
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("term")).limit(top_k)

    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    xy = top.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    one = xy.agg(
        F.sort_array(F.collect_list(F.struct("rank", "x", "y"))).alias("g")
    )

    def fold(expr):
        return _ordered_fold(F.transform(F.col("g"), expr))

    sx = fold(lambda s: s["x"])
    sy = fold(lambda s: s["y"])
    sxy = fold(lambda s: s["x"] * s["y"])
    sxx = fold(lambda s: s["x"] * s["x"])
    syy = fold(lambda s: s["y"] * s["y"])
    k = F.size("g").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    intercept = (sy - slope * sx) / k
    r2_num = (k * sxy - sx * sy) * (k * sxy - sx * sy)
    r2_den = (k * sxx - sx * sx) * (k * syy - sy * sy)
    r2 = r2_num / r2_den
    ok = F.size("g") >= 2
    fit = one.select(
        F.size("g").cast("long").alias("k"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(intercept, 6)).alias("intercept"),
        F.when(ok, F.round(r2, 6)).alias("r2"),
    )
    vocab = counts.agg(F.count(F.lit(1)).alias("n_terms"))
    return vocab.crossJoin(F.broadcast(fit)).select(
        "n_terms", "k", "slope", "intercept", "r2"
    )


def readability_census(
    df: DataFrame,
    text_col: str = "text",
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """→ per group: ``(group…, n_docs, n_skipped, sum_ari_ppm, min_ari_ppm,
    max_ari_ppm, avg_ari_ppm)`` — Automated Readability Index census in
    exact integer micro-units.

    ARI (Senter & Smith 1967) = ``4.71·(chars/words) + 0.5·(words/
    sentences) − 21.43``, chosen over Flesch because it needs no syllable
    heuristic: chars = ``[A-Za-z0-9]`` occurrences, words = ``\\S+`` runs,
    sentences = ``[.!?]`` occurrences (the same sentence proxy as
    ``functions/cleaning.py::c4_exprs``) — all RE2∩Java-portable regex
    counts, so the whole battery replays in any SQL engine. Grade-level
    outliers flag OCR garbage (ARI ≫ 20: no sentence breaks, numeric
    soup) and template/boilerplate farms (ARI ≲ 0: word fragments).

    Docs with zero words or zero sentences are counted in ``n_skipped``
    and excluded from the ARI stats (the formula divides by both). The
    per-doc score is floor-quantized to integer ppm BEFORE aggregation
    with a pinned operation order, so every stat is bit-exact and
    partitioning-independent; ``avg_ari_ppm = floor(sum/n)`` keeps the
    mean integer too. Plan: one codegen projection + one map-side-
    combinable agg — a single Exchange, no join, output ≤ |groups| rows.
    """
    groups = list(group_cols or [])
    t = F.col(text_col)
    chars = F.coalesce(F.regexp_count(t, F.lit(r"[A-Za-z0-9]")), F.lit(0))
    words = F.coalesce(F.regexp_count(t, F.lit(r"\S+")), F.lit(0))
    sents = F.coalesce(F.regexp_count(t, F.lit(r"[.!?]")), F.lit(0))
    eligible = t.isNotNull() & (words >= 1) & (sents >= 1)
    # pinned order: floor(1e6 * (4.71*(c/w) + 0.5*(w/s) - 21.43))
    ari_ppm = F.floor(
        F.lit(1000000.0)
        * (
            F.lit(4.71) * (chars.cast("double") / words)
            + F.lit(0.5) * (words.cast("double") / sents)
            - F.lit(21.43)
        )
    ).cast("long")
    per_doc = df.select(
        *groups,
        eligible.alias("ok"),
        F.when(eligible, ari_ppm).alias("ari_ppm"),
    )
    return per_doc.groupBy(*groups).agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_skipped"),
        F.sum("ari_ppm").cast("long").alias("sum_ari_ppm"),
        F.min("ari_ppm").cast("long").alias("min_ari_ppm"),
        F.max("ari_ppm").cast("long").alias("max_ari_ppm"),
        F.floor(F.sum("ari_ppm") / F.sum(F.when(F.col("ok"), 1).otherwise(0)))
        .cast("long")
        .alias("avg_ari_ppm"),
    )


def term_cooccurrence(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
    min_pair: int = 2,
) -> DataFrame:
    """→ ``(word_a, word_b, n_ab, n_a, n_b, lift_ppm)`` with
    ``word_a < word_b`` — document-level term-association census over the
    ``top_n`` most document-frequent terms.

    ``lift = P(a,b) / (P(a)·P(b))`` is PMI's argument before the log:
    > 1e6 ppm means the pair co-occurs MORE than independence predicts
    (collocations, topic clusters, boilerplate phrases split across the
    vocabulary), ≪ 1e6 means the terms repel (template dialects that
    never mix). Reported as the rational ``n_ab·N / (n_a·n_b)`` in
    floor-quantized micro-units with a pinned double operation order —
    deliberately NOT the log: ``ln`` is not bit-portable across engines,
    the integer-derived lift is.

    Scale shape: presence (not frequency) per doc, restricted to the
    ``top_n`` vocabulary BEFORE the pair join — so the self-join on
    ``id_col`` fans out at most ``top_n·(top_n−1)/2`` pairs per doc and
    the pair space is ≤ that regardless of corpus size; term totals and
    the 1-row doc count attach as broadcasts. Tokenizer: lower, trim,
    ``\\s+`` split, empty tokens dropped (same family as
    ``dedup.duplicated_spans``).
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    presence = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.explode(words).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    n_docs_df = df.where(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    top = (
        presence.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_term"))
        .orderBy(F.desc("n_term"), F.asc("word"))
        .limit(top_n)
    )
    pres_top = presence.join(F.broadcast(top), "word").select(
        "doc_id", "word", "n_term"
    )
    a = pres_top.select(
        "doc_id", F.col("word").alias("word_a"), F.col("n_term").alias("n_a")
    )
    b = pres_top.select(
        "doc_id", F.col("word").alias("word_b"), F.col("n_term").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_pair)
    )
    # pinned order: floor((1e6 * (n_ab_d * n_docs_d)) / (n_a_d * n_b_d))
    lift = F.floor(
        (F.lit(1000000.0) * (F.col("n_ab").cast("double") * F.col("n_docs")))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    ).cast("long")
    return pairs.crossJoin(F.broadcast(n_docs_df)).select(
        "word_a", "word_b", "n_ab", "n_a", "n_b", lift.alias("lift_ppm")
    )


def concentration_census(
    df: DataFrame,
    group_col: str,
    top_k: int = 10,
    n_buckets: int = 1024,
) -> DataFrame:
    """Corpus concentration → ONE row ``(n_groups, n_rows, gini_micro,
    topk_rows, topk_share_micro)``: the Gini coefficient of rows across
    ``group_col`` plus the share held by the ``top_k`` heaviest groups —
    the datasheet numbers behind "is this corpus a few mega-hosts in a
    trench coat". All arithmetic is exact integers (Gini =
    (2·Σi·xᵢ − (n+1)·T)/(n·T) over ascending-sorted group counts, in
    micro-units via floor division), so the row hash-checks. NULL groups
    are excluded (their census is `null_patterns`' job).

    The global ascending rank i over the GROUP-COUNT table is computed
    WITHOUT a global sort (the shard_plan prefix-sum pattern): count-
    value range buckets → bucket-grain group counts folded to exclusive
    offsets driver-side (≤ n_buckets rows collected) → in-bucket
    row_number, ordered by (count, group) for determinism — ties in
    count make Σi·xᵢ invariant to their order anyway. Shuffles: the
    corpus→counts agg, the bucket window; both keyed, no
    rangepartitioning, no single-reducer sort."""
    spark = df.sparkSession
    counts = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("g"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = counts.agg(F.min("x").alias("lo"), F.max("x").alias("hi")).first()
    schema = (
        "n_groups long, n_rows long, gini_micro long, "
        "topk_rows long, topk_share_micro long"
    )
    if stats.lo is None:
        return spark.createDataFrame([], schema)
    lo, hi = int(stats.lo), int(stats.hi)
    span = hi - lo + 1
    bucket = F.expr(f"(x - {lo}) * {n_buckets} div {span}")
    bucketed = counts.withColumn("_b", bucket)
    per_bucket = (
        bucketed.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("_b")
        .collect()
    )
    offsets, running = [], 0
    for r in per_bucket:
        offsets.append((int(r._b), running))
        running += int(r.c)
    n = running
    off_df = spark.createDataFrame(offsets, "_b long, _off long")
    w = Window.partitionBy("_b").orderBy("x", "g")
    ranked = (
        bucketed.join(F.broadcast(off_df), "_b")
        .withColumn("i", F.col("_off") + F.row_number().over(w))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("x").alias("n_rows"),
        F.sum(F.col("i") * F.col("x")).alias("s"),
        F.coalesce(
            F.sum(F.when(F.col("i") > n - top_k, F.col("x"))), F.lit(0)
        ).alias("topk_rows"),
    )
    return agg.select(
        "n_groups",
        "n_rows",
        F.expr(
            "(1000000 * (2 * s - (n_groups + 1) * n_rows))"
            " div (n_groups * n_rows)"
        ).alias("gini_micro"),
        "topk_rows",
        F.expr("(1000000 * topk_rows) div n_rows").alias("topk_share_micro"),
    )


def style_distance_census(
    df: DataFrame,
    group_col: str,
    text_col: str,
    vocab_k: int = 50,
) -> DataFrame:
    """Burrows-Delta-style stylometric distance between document groups
    (sources/hosts) → one row per unordered group pair ``(group_a,
    group_b, n_words, delta_micro)``.

    Two sources whose function-word profiles are near-identical are very
    likely the same template/generator behind different domains — the
    mirror-network and synthetic-content signal pairwise content dedup
    misses when the words differ but the STYLE doesn't (Burrows 2002
    measures authorship exactly this way). Distance here is the exact-
    integer variant: each group's per-word relative frequency over the
    global top-``vocab_k`` vocabulary in micro-units (``(10^6·n) div
    total``), ``delta_micro = Σ_words |f_a − f_b|`` — L1 profile
    distance, no float ever forms, deterministic vocabulary tie-break
    (count desc, word asc).

    Plan: ONE corpus scan → (group, word) counts, persisted (totals,
    vocabulary, and profiles all derive from it); the top-k vocabulary
    window runs at word grain; profiles are |groups|·k rows, so the dense
    grid, the profile join, and the pair self-join are broadcast-sized.
    Pair output is |groups|²/2 rows — source/host-grain inputs only (the
    linkage-block contract: group by host, not by page). The counts
    cache is corpus-vocabulary-sized, so the (tiny) pair result is
    materialized EAGERLY and the cache released before returning — the
    kcore persist/finally discipline, not a leaked cache. Overflow:
    freq ≤ 10^6, Σ|diff| ≤ 2·10^6·k.
    """
    if vocab_k < 1:
        raise ValueError(f"style_distance_census: vocab_k must be >= 1, got {vocab_k}")
    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    totals = counts.groupBy("grp").agg(F.sum("n").alias("total"))
    w_vocab = Window.partitionBy(F.lit(1)).orderBy(
        F.col("global_n").desc(), F.col("word").asc()
    )
    vocab = (
        counts.groupBy("word")
        .agg(F.sum("n").alias("global_n"))
        .select("word", F.row_number().over(w_vocab).alias("_rk"))
        .where(F.col("_rk") <= vocab_k)
        .select("word")
    )
    grid = totals.crossJoin(F.broadcast(vocab))
    prof = (
        grid.join(F.broadcast(counts.join(F.broadcast(vocab), "word")), ["grp", "word"], "left")
        .select(
            "grp",
            "word",
            F.expr("(1000000 * coalesce(n, 0)) div total").alias("freq_micro"),
        )
    )
    a = prof.select(
        F.col("grp").alias("group_a"),
        F.col("word").alias("word"),
        F.col("freq_micro").alias("fa"),
    )
    b = prof.select(
        F.col("grp").alias("group_b"),
        F.col("word").alias("word"),
        F.col("freq_micro").alias("fb"),
    )
    try:
        return (
            a.join(b, "word")
            .where(F.col("group_a") < F.col("group_b"))
            .groupBy("group_a", "group_b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum(F.abs(F.col("fa") - F.col("fb")))
                .cast("long")
                .alias("delta_micro"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        counts.unpersist()
