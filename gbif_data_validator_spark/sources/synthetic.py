"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md F1/F2).

Reference analog: the injected-violation test corpus
``validator_test_file_all_issues.tsv`` (one labeled ``expectedissue`` per
violated row — processor/ParallelDataFileProcessorMasterTest.java:24-69) and
the golden-id integrity archives (duplicate "i19", unlinked "ZZ" —
evaluator/UniquenessEvaluatorTest.java:53).

Every column is a pure function of ``id`` (from ``spark.range``), so the
table is deterministic at any scale and any partitioning, and generation is
fully distributed — no driver-side loops, no collected data. Violations are
injected on fixed ``id % SLOT_MOD`` slots; the ``expected_issue`` label
column carries ground truth for recall/false-positive assertions.

Skew fixture: ~20% of rows live on 3 hot domains (id % 5 == 0), exercising
the skew measurements (operators/layout.py::key_skew_audit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..model import CheckId
from .lang_dim import ISO_639_1

SLOT_MOD = 997  # prime → violation slots spread across partitions/domains

#: slot → expected_issue (FIXTURES.md F2 table)
VIOLATION_SLOTS = {
    0: CheckId.URL_MALFORMED,
    1: CheckId.KEY_EMPTY,
    2: CheckId.WARC_TS_INVALID,
    3: CheckId.WARC_TS_UNLIKELY,
    4: CheckId.LANG_UNKNOWN,
    5: CheckId.TEXT_EMPTY,
    6: CheckId.TEXT_EXTRACTION_MISMATCH,
    7: "URL_DUPLICATE",
}

#: warc_ts span: 2019-01-01 .. 2024-12-31 (FIXTURES.md F1)
_TS_BASE = 1546300800  # 2019-01-01T00:00:00Z
_TS_SPAN = 189_216_000  # ~6 years in seconds

#: the drift fixture month — rows whose warc_ts lands here get 3x text length
DRIFT_MONTH = "2022-07"

_VOCAB = [f"tok{i:03d}" for i in range(200)] + [
    "the", "data", "page", "web", "crawl", "index", "link", "site", "text",
    "open", "fast", "table", "value", "row", "scan", "key", "hash", "sort",
]
_W = len(_VOCAB)


def _clean_url(idc: Column) -> Column:
    """url as a pure function of id; 20% of rows on 3 hot domains (skew)."""
    hot = F.concat(F.lit("hot"), (idc % 3).cast("string"), F.lit(".example.com"))
    cold = F.concat(
        F.lit("site-"),
        F.pmod(F.xxhash64(idc, F.lit(42)), F.lit(10000)).cast("string"),
        F.lit(".example.org"),
    )
    domain = F.when(idc % 5 == 0, hot).otherwise(cold)
    return F.concat(F.lit("https://"), domain, F.lit("/page/"), idc.cast("string"))


def _clean_ts(idc: Column) -> Column:
    return F.timestamp_seconds(F.lit(_TS_BASE) + F.pmod(idc * 2654435761, F.lit(_TS_SPAN)))


def _clean_lang(idc: Column) -> Column:
    # weighted: 2/3 'en', rest spread over the full ISO list
    langs = F.array(*[F.lit(c) for c in ISO_639_1])
    idx = F.pmod(F.xxhash64(idc, F.lit(7)), F.lit(len(ISO_639_1)))
    return F.when(idc % 3 < 2, F.lit("en")).otherwise(F.element_at(langs, (idx + 1).cast("int")))


#: deterministic sentence pool: generation composes bodies from pre-built
#: ~24-word sentences instead of word-by-word joins — ~20x faster synthesis
#: for heavy (Common-Crawl-sized) pages while staying fully deterministic.
_SENT_LEN = 24
_N_SENT = 512
_SENTENCES = [
    " ".join(_VOCAB[((j * 31 + t * 7) >> 2) % _W] for t in range(_SENT_LEN))
    for j in range(_N_SENT)
]


def _body_series(ids: pd.Series, n_words: pd.Series) -> pd.Series:
    """Deterministic body text per id: a seeded sequence of pool sentences
    totalling ~n_words words (exact word count = ceil(n_words/24)*24 words,
    monotone in n_words so the drift fixture's 3x scaling is preserved)."""
    import numpy as np

    out = []
    for i, nw in zip(ids.to_numpy(), n_words.to_numpy()):
        n_sent = max(1, int(nw) // _SENT_LEN)
        k = np.arange(n_sent, dtype=np.uint64)
        idx = (np.uint64(i) * np.uint64(2654435761) + k * np.uint64(97)) % np.uint64(_N_SENT)
        out.append(" ".join(_SENTENCES[j] for j in idx))
    return pd.Series(out)


_body_udf = F.pandas_udf(_body_series, returnType=StringType())


def synth_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    with_violations: bool = True,
    num_partitions: int | None = None,
    words_scale: int = 1,
) -> DataFrame:
    """Build the pages table: (url, warc_ts, html, text, lang, expected_issue).

    For clean rows ``text == extract_text(html)`` byte-identically (the html
    template and the extractor contract are co-designed; tests assert it).
    ``words_scale`` multiplies body length — use ~10-40 for realistic
    Common-Crawl page weights (multi-KB html) in throughput benchmarks.
    """
    df = spark.range(0, n_rows, numPartitions=num_partitions)
    idc = F.col("id")
    slot = idc % SLOT_MOD

    # --- drift fixture: month == DRIFT_MONTH → 3x word count -------------
    ts = _clean_ts(idc)
    in_drift = F.date_format(ts, "yyyy-MM") == DRIFT_MONTH
    n_words = ((F.lit(20) + F.pmod(idc, F.lit(80))) * words_scale).cast("int")
    n_words = F.when(in_drift, n_words * 3).otherwise(n_words)

    df = df.withColumn("warc_ts_clean", ts).withColumn(
        "body", _body_udf(idc, n_words)
    )

    title = F.concat(F.lit("Page "), idc.cast("string"))
    # extract_text(html) == "Page {id} Page {id} {body}": style/script/comment
    # are dropped, tags become spaces, whitespace collapses.
    html_str = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit("</title><style>body{margin:0}</style></head><body><!-- gen -->"),
        F.lit("<h1>"), title, F.lit("</h1><p>"), F.col("body"),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    clean_text = F.concat(title, F.lit(" "), title, F.lit(" "), F.col("body"))

    url = _clean_url(idc)
    lang = _clean_lang(idc)

    if with_violations:
        # duplicate-url target: a guaranteed-clean slot (id+3 → slot 10;
        # fallback id-994 → slot 10 when id+3 overflows the table)
        dup_target = F.when(idc + 3 < F.lit(n_rows), idc + 3).otherwise(idc - 994)
        url = (
            F.when(slot == 0, F.concat(F.lit("not a url "), idc.cast("string")))
            .when(slot == 1, F.lit(""))
            .when(slot == 7, _clean_url(dup_target))
            .otherwise(url)
        )
        ts_out = (
            F.when(slot == 2, F.lit(None).cast("timestamp"))
            .when(slot == 3, F.timestamp_seconds(F.lit(549_000_000) + idc % 1000))  # 1987
            .otherwise(F.col("warc_ts_clean"))
        )
        lang = F.when(slot == 4, F.lit("zz")).otherwise(lang)
        text_out = (
            F.when(slot == 5, F.lit(""))
            .when(slot == 6, F.concat(clean_text, F.lit("X")))
            .otherwise(clean_text)
        )
        issue = F.lit(None).cast("string")
        for s, label in VIOLATION_SLOTS.items():
            issue = F.when(slot == s, F.lit(label)).otherwise(issue)
        issue = F.when(issue.isNull() & in_drift, F.lit(CheckId.DRIFT_WINDOW)).otherwise(issue)
    else:
        ts_out = F.col("warc_ts_clean")
        text_out = clean_text
        issue = F.lit(None).cast("string")

    return df.select(
        url.alias("url"),
        ts_out.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        text_out.alias("text"),
        lang.alias("lang"),
        issue.alias("expected_issue"),
    )


def expected_duplicate_urls(spark: SparkSession, n_rows: int) -> DataFrame:
    """Ground-truth duplicated urls (golden-id style, like the reference's
    asserted duplicate id "i19" — UniquenessEvaluatorTest.java:53)."""
    df = spark.range(0, n_rows).where((F.col("id") % SLOT_MOD) == 7)
    idc = F.col("id")
    dup_target = F.when(idc + 3 < F.lit(n_rows), idc + 3).otherwise(idc - 994)
    return df.select(_clean_url(dup_target).alias("url")).distinct()
