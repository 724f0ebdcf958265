"""Storage-bucketed tables: writing CLUSTERED BY (url) elides the Exchange
from later aggregations and joins on the bucket key — the pay-the-shuffle-
once-at-ingest layout for the engine's hottest keys (plan-shape evidence
for DEPLOYMENT.md's Iceberg bucket(N, url) recommendation)."""

import pytest
from pyspark.sql import functions as F

from gbif_data_validator_spark.operators.uniqueness import (
    duplicate_keys,
    uniqueness_violations,
)
from gbif_data_validator_spark.sources.bucketed import read_bucketed, write_bucketed


@pytest.fixture(scope="module")
def bucketed_pages(spark, pages, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    write_bucketed(
        pages.drop("expected_issue"), "pages_b", 8, "url", path=str(base / "pages_b")
    )
    yield read_bucketed(spark, "pages_b")
    spark.sql("DROP TABLE IF EXISTS pages_b")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_groupby_has_no_exchange(spark, pages, bucketed_pages):
    dups = duplicate_keys(bucketed_pages, "url")
    plan = _plan(dups)
    assert "Exchange" not in plan, plan
    # the engine's uniqueness pass (blank-key filter + the same aggregate)
    # keeps the bucket locality too
    assert "Exchange" not in _plan(uniqueness_violations(bucketed_pages))
    # same answer as over the unbucketed parquet
    expect = {(r.url, r.dup_count) for r in duplicate_keys(pages, "url").collect()}
    got = {(r.url, r.dup_count) for r in dups.collect()}
    assert got == expect and len(got) > 0


def test_bucketed_join_is_colocated(spark, bucketed_pages, pages, tmp_path_factory):
    """Two tables bucketed on the same key with equal bucket counts join
    without shuffling either side."""
    base = tmp_path_factory.mktemp("bucketed2")
    write_bucketed(
        pages.drop("expected_issue").select("url", "lang"),
        "pages_b2", 8, "url", path=str(base / "pages_b2"),
    )
    # disable broadcast so the planner actually exercises the co-located
    # sort-merge path (at real scale both sides are far past the threshold)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        other = read_bucketed(spark, "pages_b2")
        j = bucketed_pages.select("url", "warc_ts").join(other, "url")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS pages_b2")


def test_unbucketed_groupby_pays_the_exchange(spark, pages):
    """Control: the identical plan over the raw parquet DOES shuffle —
    the assertion above is the bucketing, not AQE folding."""
    plan = _plan(duplicate_keys(pages, "url"))
    assert "Exchange" in plan
