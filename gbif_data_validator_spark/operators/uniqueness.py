"""Pass 2a — key uniqueness via one hash aggregate.

Reference analog: ``UniquenessEvaluator`` — external merge-sort of the file
on the id column, then an awk adjacent-compare emitting duplicated ids
(evaluator/UniquenessEvaluator.java:46-74; FIND_DUPLICATE_CMD
util/FileBashUtilities.java:29-32). Emits RECORD_NOT_UNIQUELY_IDENTIFIED per
duplicated id; ``DataUniquenessEvaluator.java:44-93`` is the same operator
on a data column.

Spark design: one hash aggregate replaces sort + adjacent-compare — a
map-side ``partial_count``, ONE Exchange on the key, the final count
(PLANS.md §3). The partial count folds a hot key to one row per map task
before the shuffle, so no reducer receives more than one row per (key, map
task). Grouping on the raw column lets a table bucketed by it skip the
Exchange. Skew is measured (``operators/layout.py::key_skew_audit``), not
tuned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.predicates import non_blank_sql
from ..functions.sqltext import ident, string
from ..model import CheckId


def duplicate_keys(df: DataFrame, key_col: str) -> DataFrame:
    """→ (key, dup_count) for keys appearing more than once: one
    ``groupBy(key_col).count()`` filtered to ``dup_count > 1``."""
    return (
        df.groupBy(F.expr(ident(key_col)))
        .agg(F.expr("count(1) AS dup_count"))
        .where("dup_count > 1")
    )


def duplicate_keys_sorted(df: DataFrame, key_col: str) -> DataFrame:
    """W1+W2 parity variant: the reference's literal algorithm — external
    sort on the key, then adjacent-row compare (``prev == cur``, awk
    FIND_DUPLICATE_CMD util/FileBashUtilities.java:29-32) expressed as a
    ``lag`` window. Kept for semantic parity with the reference; the global
    orderBy window funnels through one partition, so ``duplicate_keys``
    (hash agg) is the scale path. Output matches duplicate_keys."""
    w = Window.orderBy("k")
    return (
        df.select(F.col(key_col).alias("k"))
        .withColumn("_prev", F.lag("k").over(w))
        .where(F.col("k") == F.col("_prev"))
        .groupBy("k")
        .agg((F.count(F.lit(1)) + 1).alias("dup_count"))
        .select(F.col("k").alias(key_col), "dup_count")
    )


def data_uniqueness_violations(pages: DataFrame, data_col: str) -> DataFrame:
    """A2 DataUniquenessEvaluator (evaluator/DataUniquenessEvaluator.java:
    44-93): ``duplicate_keys`` on a *data* column rather than the record id,
    emitting the OCCURRENCE_NOT_UNIQUELY_IDENTIFIED analog; blank values
    excluded (they are blankness findings, not duplicates)."""
    col = ident(data_col)
    return _violations(
        duplicate_keys(pages.where(non_blank_sql(col)), data_col),
        f"concat({string(data_col + ':')}, CAST({col} AS STRING))",
        CheckId.DATA_FIELD_NOT_UNIQUE,
        f"unique {data_col}",
        f"'column', {string(data_col)}, ",
    )


def uniqueness_violations(pages: DataFrame, key_col: str = "url") -> DataFrame:
    """Violations-DF-shaped output: ONE row per duplicated key, carrying the
    occurrence count in ``found`` / ``related_data`` (count=N). The
    reference emits one result per duplicated id occurrence; the
    count-carrying summary is deliberate — at 10^12 rows a hot key's N
    occurrence rows would recreate the very skew the partial aggregate
    folded away, and N is recoverable from the count."""
    key = ident(key_col)
    return _violations(
        duplicate_keys(pages.where(non_blank_sql(key)), key_col),
        key,
        CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED,
        "unique url",
        "",
    )


def _violations(
    dups: DataFrame, url: str, check_id: str, expected: str, related: str
) -> DataFrame:
    """``duplicate_keys`` rows as GLOBAL violations: ``url`` is the SQL of
    the reported key, ``related`` SQL map entries before ``dup_count``."""
    return dups.selectExpr(
        f"{url} AS url",
        f"{string(check_id)} AS check_id",
        f"{string(expected)} AS expected",
        "concat('count=', CAST(dup_count AS STRING)) AS found",
        f"map({related}'dup_count', CAST(dup_count AS STRING)) AS related_data",
        "'GLOBAL' AS partition_id",
    )
