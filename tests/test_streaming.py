"""Structured Streaming validation: streamed pass-1 equals the batch pass,
watermarked duplicate detection, bounded-state windowed rates."""

import pytest
from pyspark.sql import functions as F

from gbif_data_validator_spark.operators.record_checks import run_record_checks
from gbif_data_validator_spark.streaming import validate_stream as vs


@pytest.fixture(scope="module")
def pages_stream_dir(spark, tmp_path_factory):
    from gbif_data_validator_spark.sources.synthetic import synth_pages

    d = str(tmp_path_factory.mktemp("stream") / "pages")
    # several files → several micro-batches with maxFilesPerTrigger
    synth_pages(spark, 3000, with_violations=True).drop("expected_issue").repartition(
        6
    ).write.parquet(d)
    return d


def test_stream_violations_match_batch(spark, pages_stream_dir):
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    q = vs.run_stream_once(
        vs.stream_violations(stream, check_extraction=False), "v_stream"
    )
    got = {
        (r.check_id, r.n)
        for r in spark.sql(
            "SELECT check_id, count(*) AS n FROM v_stream GROUP BY check_id"
        ).collect()
    }
    batch = spark.read.parquet(pages_stream_dir)
    expect = {
        (r.check_id, r.n)
        for r in run_record_checks(batch, check_extraction=False)
        .groupBy("check_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect and len(got) > 0
    q.stop()


def test_stream_duplicates_within_horizon(spark, pages_stream_dir):
    stream = vs.read_pages_stream(spark, pages_stream_dir)
    dups = vs.stream_duplicates_within_horizon(
        stream, window="36500 days", watermark="0 seconds"
    )
    q = vs.run_stream_once(dups, "dups_stream", output_mode="complete")
    got = {r.url for r in spark.sql("SELECT url FROM dups_stream").collect()}
    from gbif_data_validator_spark.sources.synthetic import expected_duplicate_urls

    expect = {r.url for r in expected_duplicate_urls(spark, 3000).collect()}
    # the horizon spans the whole fixture → equals global duplicates
    assert got == expect and len(got) > 0
    q.stop()


def test_stream_issue_rates_bounded(spark, pages_stream_dir):
    stream = vs.read_pages_stream(spark, pages_stream_dir)
    q = vs.run_stream_once(
        vs.stream_issue_rates(stream), "rates_stream", output_mode="complete"
    )
    rows = spark.sql("SELECT * FROM rates_stream").collect()
    assert len(rows) > 0
    assert all(r.n > 0 and r.check_id for r in rows)
    q.stop()


def test_stream_running_counts_stateful(spark, pages_stream_dir, tmp_path):
    """applyInPandasWithState running per-language counts: state accumulates
    across micro-batches, exactly one is_first per key, and the running
    totals sum to the batch-side per-language counts."""
    from pyspark.sql import functions as F

    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    rc = vs.stream_running_counts(stream, key_col="lang")
    q = (
        rc.writeStream.format("memory")
        .queryName("running_counts_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT key, max(times_seen) AS total, sum(is_first) AS firsts, "
        "sum(n_in_batch) AS batch_sum FROM running_counts_stream GROUP BY key"
    ).collect()
    assert rows
    expect = {
        r.lang: r.n
        for r in spark.read.parquet(pages_stream_dir)
        .where(F.col("lang").isNotNull() & (F.col("lang") != ""))
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = {r.key: r.total for r in rows}
    assert got == expect
    assert all(r.firsts == 1 for r in rows)
    assert all(r.batch_sum == r.total for r in rows)
    q.stop()


def test_stream_crawl_sessions(spark, pages_stream_dir):
    """Session windows close after the gap; totals per key match the batch
    row counts (every page lands in exactly one session)."""
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=3)
    sess = vs.stream_crawl_sessions(stream, gap="30 minutes", key_col="lang")
    q = vs.run_stream_once(sess, "sessions_stream", output_mode="complete")
    got = spark.table("sessions_stream")
    assert got.columns == ["sess_start", "sess_end", "lang", "n_pages"]
    rows = got.collect()
    assert rows, "expected at least one session"
    # dynamic windows: end > start, and per-lang page totals are conserved
    assert all(r.sess_end > r.sess_start for r in rows)
    batch = {
        r.lang: r.n
        for r in spark.read.parquet(pages_stream_dir)
        .where(F.col("lang").isNotNull() & F.col("warc_ts").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    streamed = {}
    for r in rows:
        streamed[r.lang] = streamed.get(r.lang, 0) + r.n_pages
    assert streamed == batch


def test_stream_validate_to_work_dir(spark, pages_stream_dir, tmp_path):
    """Streaming ingestion shares the batch engine's durable layout: same
    violations (as batch pass 1), per-batch lineage rows, and exactly-once
    on restart (a second availableNow drain adds nothing)."""
    wd = str(tmp_path / "swork")
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    vs.stream_validate_to_work_dir(stream, wd, run_id="s1", check_extraction=False)

    got = spark.read.parquet(wd + "/violations")
    batch = run_record_checks(
        spark.read.parquet(pages_stream_dir), check_extraction=False
    )
    key = ["url", "check_id", "expected", "found", "partition_id"]
    assert sorted(map(tuple, got.select(key).collect())) == sorted(
        map(tuple, batch.select(key).collect())
    )
    from gbif_data_validator_spark.plans.checkpoint import read_checkpoints

    cps = read_checkpoints(spark, wd + "/checkpoint").collect()
    assert all(r.run_id == "s1" and r.partition_id.startswith("stream:") for r in cps)
    assert sum(r.n_violations for r in cps) == got.count()

    # restart: offsets already committed → no new rows
    stream2 = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    vs.stream_validate_to_work_dir(stream2, wd, run_id="s1", check_extraction=False)
    assert spark.read.parquet(wd + "/violations").count() == got.count()


def test_streaming_drift_from_accumulated_sketches(spark, pages_stream_dir, tmp_path):
    """Drift over a firehose: every micro-batch appends constant-size
    window sketches; the verdict is computed from that state alone and
    matches the batch KS pass over the same rows."""
    from gbif_data_validator_spark.operators.drift import ks_drift

    wd = str(tmp_path / "swork")
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    vs.stream_validate_to_work_dir(stream, wd, run_id="s1", check_extraction=False)

    # sketch state exists, one row per (batch, window), exactly-once on replay
    sk = spark.read.parquet(wd + "/checkpoint").where("drift_n IS NOT NULL")
    n_sketch_rows = sk.count()
    assert n_sketch_rows > 0
    assert all(r.partition_id.startswith("stream:") for r in sk.collect())
    stream2 = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    vs.stream_validate_to_work_dir(stream2, wd, run_id="s1", check_extraction=False)
    assert spark.read.parquet(wd + "/checkpoint").where("drift_n IS NOT NULL").count() == n_sketch_rows

    got = {t[5] for t in vs.streaming_drift_verdicts(spark, wd)}
    batch = spark.read.parquet(pages_stream_dir)
    expect = {
        r.window for r in ks_drift(batch).where(F.col("drifted")).collect()
    }
    assert got == expect and len(got) == 1


def test_stream_rule_verdicts_match_batch(spark, pages_stream_dir):
    # the streamed windowed battery equals the batch grouped battery on the
    # same data at the same window grain — same compiler, same verdicts
    from gbif_data_validator_spark.operators.constraints import verify_constraints_by

    rules = [
        ("url", "NOT_NULL", ""),
        ("lang", "IN_SET", "en,de,fr,es,zh"),
        ("lang", "COMPLETENESS_GE", "0.5"),
        ("url", "MATCHES", "^https?://"),
    ]
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    # complete mode so the memory sink holds the FINAL per-window verdicts
    # (append would emit only watermark-closed windows, and the fixture's
    # event times span decades across arbitrarily-ordered files)
    vs.run_stream_once(
        vs.stream_rule_verdicts(
            stream, rules, window_duration="30 days", watermark="36500 days"
        ),
        "rule_stream",
        output_mode="complete",
    )
    got = {
        (str(r.window_start), r.column, r.constraint): (r.n_violations, r.passed)
        for r in spark.sql("SELECT * FROM rule_stream").collect()
    }
    batch = spark.read.parquet(pages_stream_dir).withColumn(
        "_w", F.window(F.col("warc_ts"), "30 days")["start"]
    )
    expect = {
        (str(r._w), r.column, r.constraint): (r.n_violations, r.passed)
        for r in verify_constraints_by(batch, rules, ["_w"]).collect()
    }
    assert got == expect and len(got) > 0
    # real verdicts both ways: some window fails something, some passes
    assert any(not v[1] for v in got.values()) and any(v[1] for v in got.values())


def test_stream_rule_verdicts_reject_unstreamable_kinds(spark, pages_stream_dir):
    stream = vs.read_pages_stream(spark, pages_stream_dir)
    with pytest.raises(ValueError, match="not streamable"):
        vs.stream_rule_verdicts(stream, [("url", "UNIQUE", "")])
    with pytest.raises(ValueError, match="not streamable"):
        vs.stream_rule_verdicts(stream, [("warc_ts", "QUANTILE_BETWEEN", "0.5:0..1")])


def test_stream_envelope_rule_kinds_match_batch(spark, pages_stream_dir):
    # the round-3 aggregate-envelope kinds ride the streaming face with
    # verdicts identical to the batch grouped battery — incl. MEAN/SUM's
    # quantized-decimal sums and FRESH_WITHIN's pinned deterministic now
    from gbif_data_validator_spark.operators.constraints import verify_constraints_by

    rules = [
        ("text_len", "MIN_BETWEEN", "0..10"),
        ("text_len", "MAX_BETWEEN", "0..100000"),
        ("text_len", "MEAN_BETWEEN", "1..10000"),
        ("text_len", "SUM_BETWEEN", "1..1e12"),
        ("*", "N_ROWS_BETWEEN", "1..1000000"),
        ("warc_ts", "FRESH_WITHIN", "2020-01-01 00:00:00|864000"),
        ("*", "COMPLIANCE_GE", "text_len >= 0|0.5"),
    ]
    stream = vs.read_pages_stream(
        spark, pages_stream_dir, max_files_per_trigger=2
    ).withColumn("text_len", F.length("text"))
    vs.run_stream_once(
        vs.stream_rule_verdicts(
            stream, rules, window_duration="30 days", watermark="36500 days"
        ),
        "env_rule_stream",
        output_mode="complete",
    )
    got = {
        (str(r.window_start), r.constraint, r.detail): (r.n_violations, r.passed)
        for r in spark.sql("SELECT * FROM env_rule_stream").collect()
    }
    batch = (
        spark.read.parquet(pages_stream_dir)
        .withColumn("text_len", F.length("text"))
        .withColumn("_w", F.window(F.col("warc_ts"), "30 days")["start"])
    )
    expect = {
        (str(r._w), r.constraint, r.detail): (r.n_violations, r.passed)
        for r in verify_constraints_by(batch, rules, ["_w"]).collect()
    }
    assert got == expect and len(got) > 0
    # freshness discriminates: only windows near the pinned now pass
    fresh = [v[1] for (w, c, d), v in got.items() if c == "FRESH_WITHIN"]
    assert any(fresh) != all(fresh) or len(fresh) == 1


# --------------------------------------------------------------------------
# continuous dedup cluster state
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_docs_dir(spark, tmp_path_factory):
    """Documents with planted near-dup groups that SPAN batch files: three
    files, duplicates of the same base text land in different files."""
    base1 = "the quick brown fox jumps over the lazy dog near the river bank today " * 3
    base2 = "spark executors shuffle data between stages during wide transformations " * 3
    rows = []
    for i in range(24):
        if i % 8 == 0:
            text = base1
        elif i % 8 == 1:
            text = base2
        else:
            text = f"unique document number {i} " + " ".join(
                f"tok{i}_{j}" for j in range(40)
            )
        rows.append((f"doc{i:03d}", text))
    df = spark.createDataFrame(rows, "url string, text string")
    d = str(tmp_path_factory.mktemp("dupstream") / "docs")
    # partition BY file so dups cross micro-batches (i%8==0 docs: 0,8,16)
    df.repartition(3, "url").write.parquet(d)
    return d


def test_stream_dedup_clusters_equals_batch(spark, dup_docs_dir, tmp_path):
    """The equivalence law: drained stream state == whole-corpus LSH
    clustering, even though no batch ever saw the whole corpus."""
    from pyspark.sql.types import StringType, StructField, StructType

    from gbif_data_validator_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    schema = StructType(
        [StructField("url", StringType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dup_docs_dir)
    )
    state = str(tmp_path / "dedup_state")
    vs.stream_dedup_clusters(stream, state, id_col="url", text_col="text")

    got = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(f"{state}/clusters").collect()
    }
    corpus = spark.read.parquet(dup_docs_dir)
    pairs = minhash_lsh_pairs(corpus, "url", "text")
    expect = {
        (r.doc_id, r.cluster_id) for r in duplicate_clusters(pairs).collect()
    }
    assert got == expect
    assert len(got) >= 6  # both planted groups fully clustered


def test_stream_dedup_clusters_index_accumulates(spark, dup_docs_dir, tmp_path):
    """The band index holds every streamed doc afterwards (the substrate
    for the NEXT crawl's probe)."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("url", StringType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dup_docs_dir)
    )
    state = str(tmp_path / "dedup_state2")
    vs.stream_dedup_clusters(stream, state, id_col="url", text_col="text")
    idx = spark.read.parquet(f"{state}/minhash_index")
    n_docs = idx.select("id").distinct().count()
    assert n_docs == 24


def test_stream_custom_checks_flow_through(spark, pages_stream_dir):
    """The engine's CustomCheck extension surface works unchanged in the
    streaming pass-1: the blocklist gate fires per micro-batch and its
    streamed counts equal the batch run with the same check."""
    from gbif_data_validator_spark.operators.record_checks import (
        blocklist_custom_check,
    )

    # synth page text tokens: 'page' appears in every page body
    checks = (blocklist_custom_check(["page"]),)
    stream = vs.read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2)
    q = vs.run_stream_once(
        vs.stream_violations(stream, check_extraction=False, custom_checks=checks),
        "v_custom_stream",
    )
    got = {
        (r.check_id, r.n)
        for r in spark.sql(
            "SELECT check_id, count(*) AS n FROM v_custom_stream GROUP BY check_id"
        ).collect()
    }
    q.stop()
    batch = spark.read.parquet(pages_stream_dir)
    expect = {
        (r.check_id, r.n)
        for r in run_record_checks(
            batch, check_extraction=False, custom_checks=checks
        )
        .groupBy("check_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect
    assert any(c == "TEXT_BLOCKLISTED" and n > 0 for c, n in got)
