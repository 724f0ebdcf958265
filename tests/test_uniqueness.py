"""Key uniqueness (one hash aggregate): golden duplicated-key assertions
(reference pattern: the duplicate id is exactly "i19" —
UniquenessEvaluatorTest.java:37-58)."""

from collections import Counter

from pyspark.sql import functions as F

from gbif_data_validator_spark.model import CheckId
from gbif_data_validator_spark.operators.uniqueness import (
    duplicate_keys,
    uniqueness_violations,
)
from gbif_data_validator_spark.sources.synthetic import expected_duplicate_urls
from tests.conftest import N_FIXTURE_ROWS


def test_golden_duplicate_urls(spark, pages):
    expected = {r.url for r in expected_duplicate_urls(spark, N_FIXTURE_ROWS).collect()}
    assert len(expected) > 0
    got = {r.url for r in uniqueness_violations(pages).collect()}
    assert got == expected


def test_duplicate_counts_are_exact(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("a",), ("c",), ("b",)], schema="url string"
    )
    rows = {r.url: r.dup_count for r in duplicate_keys(df, "url").collect()}
    assert rows == {"a": 3, "b": 2}


def test_hot_key_counts_match_counter(spark):
    """A hot key (one url ~5k times) next to the empty key, null keys, a
    few small duplicate groups and a unique tail: the one-aggregate counts
    equal a Python Counter exactly, and the uniqueness pass reports no
    blank or null key as a duplicate."""
    urls = (
        ["https://hot.example/"] * 5000
        + [""] * 300
        + [None] * 200
        + [f"https://dup{i % 40}.example/" for i in range(100)]
        + [f"https://tail.example/{i}" for i in range(3000)]
    )
    df = spark.createDataFrame([(u,) for u in urls], schema="url string").repartition(8)
    want = {k: n for k, n in Counter(urls).items() if n > 1}
    got = {r.url: r.dup_count for r in duplicate_keys(df, "url").collect()}
    assert got == want
    v = {r.url: r.found for r in uniqueness_violations(df).collect()}
    assert v == {k: f"count={n}" for k, n in want.items() if k}
    assert v["https://hot.example/"] == "count=5000"


def test_empty_keys_excluded(spark, pages):
    """Empty/null urls are KEY_EMPTY findings (pass 1), never uniqueness
    duplicates — mirrors the reference's separate empty-id scan
    (ReferentialIntegrityEvaluator.java:74-86)."""
    v = uniqueness_violations(pages)
    assert v.where((F.col("url") == "") | F.col("url").isNull()).count() == 0
    assert v.where(F.col("check_id") != CheckId.RECORD_NOT_UNIQUELY_IDENTIFIED).count() == 0


def test_plan_is_one_exchange_over_partial_count(spark):
    """One hash aggregate: exactly one shuffle, keyed on the url column,
    with the map-side partial_count HashAggregate below it — that partial
    aggregate is what folds a hot key to one row per map task."""
    import re

    df = spark.range(0, 1000).select((F.col("id") % 5).cast("string").alias("url"))
    plan = duplicate_keys(df, "url")._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith("url#"), plan
    below = plan[plan.index("Exchange hashpartitioning"):]
    assert re.search(r"HashAggregate\(keys=\[url#\d+\], functions=\[partial_count", below), plan


def test_data_field_uniqueness_violations(spark):
    """A2 DataUniquenessEvaluator analog: duplicates on a data column emit
    DATA_FIELD_NOT_UNIQUE with the column recorded; blanks excluded."""
    from gbif_data_validator_spark.operators.uniqueness import (
        data_uniqueness_violations,
    )

    df = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d1"), ("u3", "d2"), ("u4", ""), ("u5", ""), ("u6", None)],
        schema="url string, digest string",
    )
    v = data_uniqueness_violations(df, "digest").collect()
    assert len(v) == 1
    r = v[0]
    assert r.url == "digest:d1"
    assert r.check_id == CheckId.DATA_FIELD_NOT_UNIQUE
    assert r.found == "count=2"
    assert r.related_data["column"] == "digest"


def test_engine_data_unique_cols(spark, pages):
    from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine

    cfg = EngineConfig(check_extraction=False, data_unique_cols=("lang",))
    report = ValidationEngine(spark, cfg).run(pages.drop("expected_issue"))
    # every lang value repeats → one DATA_FIELD_NOT_UNIQUE row per value
    assert report.issue_counts.get(CheckId.DATA_FIELD_NOT_UNIQUE, 0) >= 1
