"""Table sources: parquet / CSV / Iceberg-style catalog reads with declared
schemas, plus default-value imputation.

Reference analogs:
- S3 DwC-A/CSV scan with external declared schema (meta.xml → Term list,
  source/DataFileFactory.java:121-146, header extraction :226-248): here the
  schema is declared by the caller (PAGES_SCHEMA by default) and enforced,
  never inferred — schema surprises are *findings* (preflight), not crashes.
- S6 tabular record source honoring delimiter/quote/header
  (source/TabularRecordSource.java:27-57): `spark.read.csv` options.
- P4 default-value imputation: fill a column from declared defaults only
  when blank (evaluator/record/OccurrenceInterpretationEvaluator.java:99-106).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import PAGES_SCHEMA


def read_pages_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = ",",
    quote: str = '"',
    header: bool = True,
) -> DataFrame:
    """CSV scan with a declared (never inferred) schema. Parse failures
    surface as NULLs (PERMISSIVE mode) so the record checks report them as
    findings — the reference's string-typed-then-interpret semantics.
    Binary columns can't ride CSV; html is read as base64 text if present."""
    schema = schema or T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html_b64", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("quote", quote)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )
    if "html_b64" in df.columns:
        # try_to_binary, NOT unbase64: a malformed base64 cell must surface
        # as a NULL html (a finding downstream), never abort the scan
        # (unbase64 throws in ANSI mode)
        df = df.withColumn(
            "html", F.try_to_binary(F.col("html_b64"), F.lit("base64"))
        ).drop("html_b64")
        # keep the declared column order of the pages contract
        df = df.select("url", "warc_ts", "html", "text", "lang")
    return df


def read_pages_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """JSON-lines scan with a declared schema and corrupt-record capture:
    rows that fail to parse land with all declared columns NULL and the raw
    line in ``_corrupt_record`` (PERMISSIVE mode) — a malformed line is a
    *finding*, not a crash, mirroring the CSV path. ``html`` rides as
    base64 (JSON has no binary type), like the CSV source."""
    schema = schema or T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html_b64", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    if "_corrupt_record" not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    if "html_b64" in df.columns:
        # decode in place, preserving the caller's declared column order
        # (custom schemas keep all their columns). try_to_binary: malformed
        # base64 → NULL html, not a job-aborting exception
        df = df.withColumn(
            "html_b64", F.try_to_binary(F.col("html_b64"), F.lit("base64"))
        ).withColumnRenamed("html_b64", "html")
    return df


def corrupt_record_violations(df: DataFrame, key_col: str = "url") -> DataFrame:
    """Violations-contract rows for unparseable source lines (requires a
    ``_corrupt_record`` column from read_pages_jsonl). The S5/S2 analog:
    input-format damage surfaces as RECORD_STRUCTURE findings keyed by the
    (possibly NULL) record id."""
    from ..model import CheckId
    from ..operators.record_checks import partition_id_col

    # PERMISSIVE parsing yields PARTIAL rows (warc_ts may have parsed even
    # though another field corrupted the record) — attribute the finding to
    # its real window so per-partition verdicts/checkpoints agree with the
    # record checks; only rows with no usable ts land in UNKNOWN
    return df.where(F.col("_corrupt_record").isNotNull()).select(
        F.coalesce(F.col(key_col), F.lit("NULL")).alias("url"),
        F.lit(CheckId.RECORD_MALFORMED).alias("check_id"),
        F.lit("parseable source record").alias("expected"),
        F.substring(F.col("_corrupt_record"), 1, 256).alias("found"),
        F.create_map().cast("map<string,string>").alias("related_data"),
        partition_id_col(F.col("warc_ts")).alias("partition_id")
        if "warc_ts" in df.columns
        else F.lit("UNKNOWN").alias("partition_id"),
    )


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Catalog reference (Iceberg `db.table`) or a path. The catalog path is
    the production entry (S1 analog: the 'upload' is a table identifier)."""
    if "/" in ref:
        return spark.read.parquet(ref)
    return spark.table(ref)


def apply_defaults(df: DataFrame, defaults: dict[str, str]) -> DataFrame:
    """P4: impute declared default values ONLY into blank cells (the
    reference fills verbatim fields from meta.xml defaults only when blank)."""
    from ..functions.predicates import non_blank

    for col, default in defaults.items():
        df = df.withColumn(
            col, F.when(non_blank(F.col(col)), F.col(col)).otherwise(F.lit(default))
        )
    return df
