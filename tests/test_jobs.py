"""Async job lifecycle (JobServer analog): submit → ACCEPTED/RUNNING →
FINISHED with persisted report; kill cancels the Spark job group
(JobServerTest analog — submit/status/kill)."""

import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from gbif_data_validator_spark.plans.engine import EngineConfig
from gbif_data_validator_spark.plans.jobs import (
    FAILED,
    FINISHED,
    KILLED,
    NOT_FOUND,
    RUNNING,
    JobRunner,
)


def test_submit_finishes_with_report(spark, pages, tmp_path):
    runner = JobRunner(spark, str(tmp_path / "jobs"))
    job_id = runner.submit(
        pages.drop("expected_issue"), EngineConfig(check_extraction=False)
    )
    # submit returns immediately with a non-terminal status
    st0 = runner.status(job_id)
    assert st0["status"] in ("ACCEPTED", "RUNNING", FINISHED)
    st = runner.wait(job_id, timeout=300)
    assert st["status"] == FINISHED
    rep = st["report"]
    assert rep["n_rows"] == pages.count()
    assert rep["issue_counts"]
    # status document survives (FileJobStorage analog): re-read from disk
    assert runner.status(job_id)["status"] == FINISHED


def test_unknown_job_is_not_found(spark, tmp_path):
    runner = JobRunner(spark, str(tmp_path / "jobs"))
    assert runner.status(999999)["status"] == NOT_FOUND


def test_failed_job_reports_error(spark, tmp_path):
    runner = JobRunner(spark, str(tmp_path / "jobs"))
    bad = spark.createDataFrame([("x",)], schema="url string")
    # missing required columns → engine returns a RESOURCE_INTEGRITY report
    # (not an exception), so force a real failure with a broken column ref
    job_id = runner.submit(bad.select(F.col("url").alias("url")), EngineConfig())
    st = runner.wait(job_id, timeout=120)
    # preflight short-circuit is a FINISHED run with a blocking error_code
    assert st["status"] == FINISHED
    assert st["report"]["error_code"] == "RESOURCE_INTEGRITY"


def test_kill_cancels_running_job(spark, tmp_path):
    runner = JobRunner(spark, str(tmp_path / "jobs"))

    @F.pandas_udf(IntegerType())
    def slow(v: pd.Series) -> pd.Series:
        time.sleep(8)
        return v.astype("int32") * 0

    # a deliberately slow pages-shaped input: the sleep UDF runs inside the
    # engine's scan, giving kill() in-flight stages to cancel
    src = (
        spark.range(0, 64)
        .repartition(8)
        .select(
            F.concat(F.lit("https://k.example.org/"), F.col("id")).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            (F.col("id") + slow(F.col("id").cast("int"))).cast("string").alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    job_id = runner.submit(src, EngineConfig(check_extraction=False))
    # let it reach RUNNING and schedule stages
    deadline = time.time() + 30
    while runner.status(job_id)["status"] == "ACCEPTED" and time.time() < deadline:
        time.sleep(0.1)
    time.sleep(1.0)
    st = runner.kill(job_id)
    assert st["status"] == KILLED


def test_restart_fails_jobs_a_crashed_server_left_running(spark, tmp_path):
    """A status document still RUNNING when a runner starts over the same
    storage was left by a crashed server: no thread will finish it, so it
    comes back FAILED with an error naming the restart."""
    import json

    storage = tmp_path / "jobs"
    storage.mkdir()
    (storage / "42.json").write_text(
        json.dumps({"job_id": 42, "status": RUNNING, "ts": 0.0})
    )
    (storage / "43.json").write_text(
        json.dumps({"job_id": 43, "status": FINISHED, "ts": 0.0, "report": {}})
    )
    runner = JobRunner(spark, str(storage))
    st = runner.status(42)
    assert st["status"] == FAILED
    assert "restarted" in st["error"]
    assert runner.status(43)["status"] == FINISHED
