"""gbif_data_validator_spark — a from-scratch PySpark-native schema +
constraint validation engine with the query/data-processing capabilities of
gbif/gbif-data-validator (reference read-only at /root/reference).

The reference is a Java/Akka/awk batch job server that validates
Darwin-Core archives (see SURVEY.md). This package re-expresses *what* it
computes — the evaluator-chain semantics (ResourceStructure →
RecordStructure → RecordInterpretation → Metrics), the result model
(RecordEvaluationResult / ValidationResultElement / indexability verdict),
uniqueness / referential-integrity / per-column-frequency operators and the
distinct-first sampler — as staged, declarative DataFrame passes designed
for 100 TB Iceberg/parquet tables of Common-Crawl-style web pages:

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Architecture (SURVEY.md §7):
  Pass 0  ResourceStructure  — driver-side preflight on schema/metadata
  Pass 1  RecordStructure + Interpretation — one narrow scan → violations DF
  Pass 2  Collection checks — hash-aggregate uniqueness, broadcast referential
          anti-join, KS drift over warc_ts windows
  Pass 3  Metrics — one wide agg scan (null counts, HLL, length histograms)
  Pass 4  Report — counts by check, distinct-first top-10 samples,
          blocking-set verdict, checkpoint/lineage rows (resumable)

Everything is DataFrame/Catalyst-first; Python appears only as Arrow-batched
pandas UDFs (URL parsing, HTML→text extraction, MinHash), never per-row.
"""

__version__ = "0.1.0"
