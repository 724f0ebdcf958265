"""Storage-bucketed tables: pre-shuffled layouts for co-located joins/aggs.

The scale rationale (SURVEY.md §4.2, DEPLOYMENT.md): the engine's hottest
shuffles are keyed on ``url`` (uniqueness, referential probes, incremental
anti-joins). A table written ``CLUSTERED BY (url) INTO n BUCKETS`` pays that
shuffle ONCE at ingest; every later groupBy/join on the bucket column reads
co-located data and Catalyst elides the Exchange entirely. That includes
the uniqueness pass (``operators/uniqueness.py::duplicate_keys`` groups on
the raw key column), so no bucketed variant of it is needed; plan-shape
tests assert both. At 100 TB this turns the per-run O(table) uniqueness
shuffle into a scan — the same trick Iceberg's ``bucket(N, url)``
partition transform provides; this module is the vanilla-Spark (no
catalog extension) equivalent, so the repo demonstrates the plan shape
without an Iceberg runtime.

Reference analog: none (the reference re-sorts per run — its external-sort
uniqueness, core/.../RecordEvaluationResultCollector; our W1 parity
operator). Bucketing is the Spark-native way to never pay that sort again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_col: str = "url",
    path: str | None = None,
    mode: str = "errorifexists",
) -> None:
    """Persist ``df`` hash-bucketed (and in-bucket sorted) by
    ``bucket_col``. ``path`` makes it an external table (tests point this
    at a tmp dir; production at the warehouse prefix). ``n_buckets`` must
    match the downstream join partner's for Exchange-free joins."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table WITH its bucket metadata (only ``spark.table``
    keeps it — ``spark.read.parquet`` on the same files would forget the
    layout and re-shuffle downstream)."""
    return spark.table(table)

