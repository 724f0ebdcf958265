"""Shared fixtures: one local SparkSession per test session, plus the
injected-violation pages fixture materialized to parquet once (mirrors the
reference's committed test archives under src/test/resources)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession

from gbif_data_validator_spark.session import build_session
from gbif_data_validator_spark.sources.synthetic import synth_pages

N_FIXTURE_ROWS = 4000


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    # master=None: local[$SPARK_GRAFT_CPUS], i.e. one task slot per host CPU
    s = build_session(app_name="gdv-tests", master=None, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def legacy_lineage(spark):
    """Rewrites a work_dir's lineage in the layout written before the window
    state rode on the checkpoint rows: ``checkpoint/`` in its 8 verdict
    columns, and the state (profile fields and drift sketch) in a
    ``profiles/`` table beside it, which no reader consults any more."""
    state = ["counts", "hlls", "len_q", "len_avg", "drift_n", "drift_q"]

    def rewrite(wd: str) -> None:
        path, tmp = f"{wd}/checkpoint", f"{wd}/checkpoint.legacy"
        rows = spark.read.parquet(path)
        rows.where("counts IS NOT NULL").select(
            "run_id", "partition_id", "n_rows", *state, "finished_at"
        ).write.parquet(f"{wd}/profiles")
        rows.drop(*state).write.parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
        assert len(spark.read.parquet(path).columns) == 8

    return rewrite


@pytest.fixture(scope="session")
def pages_path(spark, tmp_path_factory) -> str:
    """Labeled fixture table written once — (F2 pages_with_violations)."""
    path = str(tmp_path_factory.mktemp("fixtures") / "pages")
    synth_pages(spark, N_FIXTURE_ROWS, with_violations=True).write.parquet(path)
    return path


@pytest.fixture(scope="session")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)
