"""Incremental-equals-fresh as a property: for a random append schedule
(1-3 appended months of 100-300 rows, with recrawls of earlier urls and
null-ts rows, n_buckets 1 or 4), the last run of a ``baseline_run_id``
chain reports the same issue counts, row count and partition verdicts as
one fresh work_dir run over the same table, with a whole-table profile
merged from the stored window states."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gbif_data_validator_spark.plans.engine import EngineConfig, ValidationEngine
from gbif_data_validator_spark.sources.synthetic import synth_pages

HISTORY_ROWS = 500
SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def history(spark):
    return [tuple(r) for r in synth_pages(spark, HISTORY_ROWS).drop("expected_issue").collect()]


def _month(history, prior_urls, j, n_rows, n_recrawl, n_null, rnd):
    """One appended month (2031-0j) of pages copied from history bodies:
    fresh urls, except ``n_recrawl`` rows re-crawling earlier urls, and
    ``n_null`` rows without a timestamp (they land in UNKNOWN)."""
    start = dt.datetime(2031, j, 2)
    rows = [
        (
            f"https://append{j}.example/page/{i}",
            start + dt.timedelta(seconds=rnd.randrange(24 * 86400)),
            *rnd.choice(history)[2:],
        )
        for i in range(n_rows)
    ]
    picks = rnd.sample(range(n_rows), n_recrawl + n_null)
    for i in picks[:n_recrawl]:
        rows[i] = (rnd.choice(prior_urls), *rows[i][1:])
    for i in picks[n_recrawl:]:
        rows[i] = (rows[i][0], None, *rows[i][2:])
    return rows


def _report_key(rep):
    return rep.issue_counts, rep.n_rows, dict(rep.partition_verdicts)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_buckets=st.sampled_from([1, 4]),
    months=st.lists(
        st.tuples(
            st.integers(100, 300),  # rows
            st.integers(0, 20),  # recrawls of earlier urls
            st.integers(0, 5),  # null-ts rows
        ),
        min_size=1,
        max_size=3,
    ),
    seed=st.integers(0, 2**16),
)
def test_incremental_chain_equals_fresh_run(
    spark, history, tmp_path_factory, n_buckets, months, seed
):
    rnd = random.Random(seed)
    chain_dir = str(tmp_path_factory.mktemp("chain"))
    table = list(history)

    def run(rows, work_dir, run_id=None, baseline=None):
        # extraction is a per-row pass the lineage never touches; leaving it
        # out keeps each example's 3-5 engine runs inside the time budget
        cfg = EngineConfig(
            check_extraction=False,
            work_dir=work_dir,
            n_buckets=n_buckets,
            baseline_run_id=baseline,
        )
        if run_id is not None:
            cfg.run_id = run_id
        return ValidationEngine(spark, cfg).run(spark.createDataFrame(rows, SCHEMA))

    run(table, chain_dir, "r0")
    for j, (n_rows, n_recrawl, n_null) in enumerate(months, 1):
        prior = [r[0] for r in table if r[0].startswith("https://")]
        table += _month(history, prior, j, n_rows, n_recrawl, n_null, rnd)
        rep = run(table, chain_dir, f"r{j}", baseline=f"r{j - 1}")

    fresh = run(table, str(tmp_path_factory.mktemp("fresh")))
    assert rep.metrics["_scope"] == "full_table_merged"
    assert _report_key(rep) == _report_key(fresh)
