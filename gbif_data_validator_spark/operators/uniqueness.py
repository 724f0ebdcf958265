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

from ..functions.predicates import non_blank
from ..model import CheckId


def duplicate_keys(df: DataFrame, key_col: str) -> DataFrame:
    """→ (key, dup_count) for keys appearing more than once: one
    ``groupBy(key_col).count()`` filtered to ``dup_count > 1``."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
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
    col = F.col(data_col)
    nonempty = pages.where(non_blank(col))
    dups = duplicate_keys(nonempty, data_col)
    return dups.select(
        F.concat(F.lit(f"{data_col}:"), col.cast("string")).alias("url"),
        F.lit(CheckId.DATA_FIELD_NOT_UNIQUE).alias("check_id"),
        F.lit(f"unique {data_col}").alias("expected"),
        F.concat(F.lit("count="), F.col("dup_count").cast("string")).alias("found"),
        F.create_map(
            F.lit("column"), F.lit(data_col),
            F.lit("dup_count"), F.col("dup_count").cast("string"),
        ).alias("related_data"),
        F.lit("GLOBAL").alias("partition_id"),
    )


def uniqueness_violations(pages: DataFrame, key_col: str = "url") -> DataFrame:
    """Violations-DF-shaped output: ONE row per duplicated key, carrying the
    occurrence count in ``found`` / ``related_data`` (count=N). The
    reference emits one result per duplicated id occurrence; the
    count-carrying summary is deliberate — at 10^12 rows a hot key's N
    occurrence rows would recreate the very skew the partial aggregate
    folded away, and N is recoverable from the count."""
    key = F.col(key_col)
    nonempty = pages.where(non_blank(key))
    dups = duplicate_keys(nonempty, key_col)
    return dups.select(
        key.alias("url"),
        F.lit(CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED).alias("check_id"),
        F.lit("unique url").alias("expected"),
        F.concat(F.lit("count="), F.col("dup_count").cast("string")).alias("found"),
        F.create_map(F.lit("dup_count"), F.col("dup_count").cast("string")).alias(
            "related_data"
        ),
        F.lit("GLOBAL").alias("partition_id"),
    )
