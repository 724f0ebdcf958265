"""Streaming record validation.

Design: pass 1 (record checks) is a narrow, stateless transformation, so it
lifts to Structured Streaming unchanged — the same ``run_record_checks``
Column plan runs per micro-batch. Collection checks that need global state
(uniqueness) become watermarked stateful aggregations: duplicate detection
within the watermark horizon via a windowed groupBy count (exactly the
semantics a crawl pipeline wants: re-crawls of the same url inside the
horizon are duplicates; a crawl a month later is a refresh).

Sinks: violations stream to an append sink (parquet/Iceberg in production;
memory sink in tests); issue-rate windows stream in update mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import PAGES_SCHEMA
from ..operators.record_checks import run_record_checks


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over a pages parquet directory (each new file =
    one crawl batch; in production this is the Iceberg/warehouse landing
    zone)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_violations(
    pages_stream: DataFrame,
    check_extraction: bool = True,
    custom_checks: tuple = (),
) -> DataFrame:
    """Pass-1 checks per micro-batch (stateless, append-safe). User
    CustomChecks (the engine's extension surface) fuse in unchanged —
    Column algebra is trigger-agnostic."""
    return run_record_checks(
        pages_stream,
        check_extraction=check_extraction,
        custom_checks=custom_checks,
    )


def stream_issue_rates(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    check_extraction: bool = False,
    custom_checks: tuple = (),
) -> DataFrame:
    """Watermarked windowed issue counts: (window, check_id, n). Late rows
    beyond the watermark are dropped from state — bounded state at any
    ingest rate."""
    v = run_record_checks(
        pages_stream.withWatermark("warc_ts", watermark),
        check_extraction=check_extraction,
        custom_checks=custom_checks,
    )
    # the violations carry partition_id but the event time lives upstream;
    # re-derive window from the related_data ts (kept as string) is lossy —
    # instead aggregate on partition_id (the month window) for NULL-safe
    # grouping, and on processing-time micro-batches for rates.
    return v.groupBy("partition_id", "check_id").agg(F.count(F.lit(1)).alias("n"))


def stream_duplicates_within_horizon(
    pages_stream: DataFrame,
    window: str = "24 hours",
    watermark: str = "24 hours",
    key_col: str = "url",
) -> DataFrame:
    """Stateful uniqueness within a time horizon: urls seen >1 time inside a
    tumbling event-time window. State is bounded by the watermark (the
    streaming analog of the batch hash-aggregate uniqueness; global-history
    dedup belongs to the batch pass over the full table)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .where(F.col(key_col).isNotNull() & (F.col(key_col) != ""))
        .groupBy(F.window("warc_ts", window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("n").alias("dup_count"),
        )
    )


def stream_crawl_sessions(
    pages_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "lang",
) -> DataFrame:
    """Event-time session windows per key: a session closes after ``gap``
    of event-time silence (``F.session_window`` — dynamic-width windows,
    unlike the tumbling windows above). The streaming twin of the batch
    analytic-window sessionization (__spark_entry__ events_sessionize):
    same gap semantics, but state-bounded by the watermark so a crawl
    firehose can run it indefinitely. Emits one row per closed session
    (append mode requires the watermark)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .where(F.col(key_col).isNotNull() & (F.col(key_col) != ""))
        .groupBy(F.session_window("warc_ts", gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            F.col(key_col),
            "n_pages",
        )
    )


def stream_running_counts(
    pages_stream: DataFrame,
    key_col: str = "lang",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-key document counts across micro-batches (per-language / per-domain
    ingest profile — the drift check's streaming counterpart). Emits one
    row per (key, batch) with the running ``times_seen`` total and
    ``is_first`` on the key's first-ever batch.

    Granularity contract: ``applyInPandasWithState`` makes ONE Python call
    per key per batch (state ser/de across the JVM↔Python boundary), so the
    key must be COARSE — languages, domains, windows — never per-url: at
    per-url granularity the per-key roundtrip dominates (measured ~50 ms/key
    locally) and at 10^12 urls the state store itself is the bottleneck.
    Per-url streaming dedup belongs to the watermarked windowed groupBy
    (``stream_duplicates_within_horizon``), which is pure JVM state.

    State is one small row per live key. ``state_timeout_ms`` (eviction of
    idle keys) is OPT-IN and only for continuously-triggered deployments:
    with ProcessingTimeTimeout an ``availableNow`` drain never terminates —
    Spark keeps scheduling batches to fire pending timeouts — so bounded
    drains must run with NoTimeout (the default)."""
    import pandas as pd  # local import: workers re-import the module
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("times_seen", LongType()),
            StructField("n_in_batch", IntegerType()),
            StructField("is_first", IntegerType()),
        ]
    )
    state_schema = StructType([StructField("seen", LongType())])

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def track(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (seen,) = state.get if state.exists else (0,)
        first = 1 if seen == 0 else 0
        seen += n
        state.update((seen,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {"key": [key[0]], "times_seen": [seen], "n_in_batch": [n], "is_first": [first]}
        )

    return (
        pages_stream.where(F.col(key_col).isNotNull() & (F.col(key_col) != ""))
        .select(F.col(key_col).alias("key"))
        .groupBy("key")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )


def stream_validate_to_work_dir(
    pages_stream: DataFrame,
    work_dir: str,
    run_id: str,
    check_extraction: bool = False,
    available_now: bool = True,
    n_buckets: int = 1,
    key_col: str = "url",
    custom_checks: tuple = (),
):
    """Streaming ingestion into the SAME durable layout as the batch engine:
    each micro-batch's pass-1 violations are appended to
    ``{work_dir}/violations`` (partitioned by partition_id) and one lineage
    row per batch goes to ``{work_dir}/checkpoint`` — so a crawl firehose
    and a batch backfill share one violations store, one resume protocol,
    and one report path.

    Exactly-once: Structured Streaming's own checkpoint
    (``{work_dir}/_stream_checkpoint``) tracks source offsets; on restart,
    completed batches are not re-read, and a replayed half-written batch
    dedups at read time exactly like the batch engine's replay
    (engine.run's dropDuplicates over the violations contract). The
    foreachBatch body mirrors the batch ordering contract: violations
    first, then the lineage rows (plans/checkpoint.py protocol step 1-2).

    Drift state: each micro-batch's ``stream:{batch_id}:{window}``
    checkpoint row ALSO carries that window's drift quantile sketch (the
    engine's ``DRIFT_METRIC``, counted as the engine counts it; profile
    fields null), sketched in the same aggregate that counts the window's
    rows — constant-size state per batch per window. Batches slice a
    window (they never re-validate it), so their sketches MERGE across
    batches (weighted ECDF) rather than supersede;
    ``streaming_drift_verdicts`` evaluates KS drift over the accumulated
    state driver-side, no rescan of streamed history. Replays overwrite
    their own ``stream:{batch_id}:*`` ids (latest row wins at read time),
    preserving exactly-once.

    Returns the terminated (availableNow) or running query."""
    import datetime as _dt
    import os

    from ..model import CHECKPOINT_SCHEMA
    from ..operators.drift import ACCURACY, PROBS
    from ..operators.metrics import issue_counts_by_partition
    from ..operators.record_checks import partition_id_col
    from ..plans import checkpoint as cp
    from ..plans.engine import DRIFT_METRIC, _window_month

    violations_path = os.path.join(work_dir, "violations")
    cp_path = os.path.join(work_dir, "checkpoint")
    stream_cp = os.path.join(work_dir, "_stream_checkpoint")

    # the work_dir's recorded partition scheme binds the stream too — a
    # silent n_buckets mismatch against a batch run sharing this store would
    # mix partition granularities
    cp.ensure_partition_scheme(pages_stream.sparkSession, work_dir, n_buckets)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch receives the PAGES micro-batch (not pre-computed
        # violations), so lineage can record the true per-partition row
        # counts; the check battery runs here in plain batch mode
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            metric = F.expr(DRIFT_METRIC)
            parts = (
                batch_df.groupBy(
                    partition_id_col(
                        F.col("warc_ts"), n_buckets, F.col(key_col)
                    ).alias("pid")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count(metric).alias("drift_n"),
                    F.percentile_approx(metric, PROBS, ACCURACY).alias("drift_q"),
                )
                .collect()
            )
            v = run_record_checks(
                batch_df,
                check_extraction=check_extraction,
                n_buckets=n_buckets,
                key_col=key_col,
                custom_checks=custom_checks,
            ).persist()
            # _run_id stamp: the batch engine's read filter treats unstamped
            # rows as trusted legacy — streamed rows must be attributable
            v.withColumn("_run_id", F.lit(run_id)).write.mode("append").partitionBy(
                "partition_id"
            ).parquet(violations_path)
            counts = issue_counts_by_partition(v).collect()
            v.unpersist()
            now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            by_part: dict[str, dict[str, int]] = {}
            for r in counts:
                by_part.setdefault(r.partition_id, {})[r.check_id] = r.n
            rows = cp.build_checkpoint_tuples(
                run_id,
                {f"stream:{batch_id}:{p}": c for p, c in by_part.items()},
                # an empty batch still gets its lineage row — "batch
                # validated, zero rows" must be distinguishable from
                # "batch never ran" without reading stream offsets
                {f"stream:{batch_id}:{r.pid}": r.n for r in parts}
                or {f"stream:{batch_id}": 0},
                now,
                now,
                # month windows carry THIS batch's drift sketch (KBs of
                # state per window)
                state={
                    f"stream:{batch_id}:{r.pid}": (
                        None, None, None, None,
                        r.drift_n,
                        [float(v) for v in r.drift_q] if r.drift_q is not None else None,
                    )
                    for r in parts
                    if _window_month(r.pid, n_buckets) is not None
                },
            )
            cp.append_checkpoints(
                spark.createDataFrame(rows, schema=CHECKPOINT_SCHEMA), cp_path
            )
        finally:
            batch_df.unpersist()

    writer = (
        pages_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", stream_cp)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def streaming_drift_verdicts(
    spark: SparkSession,
    work_dir: str,
    threshold: float = 0.15,
    min_rows: int = 30,
) -> list[tuple]:
    """KS drift verdicts over everything streamed into ``work_dir`` so far,
    computed ONLY from the accumulated per-batch sketches — violations-
    contract tuples (same shape as the batch engine's driver-side drift).

    Scale shape: state is #batches × #windows sketch rows (41 doubles
    each); a firehose that has streamed 10^12 rows is evaluated from KBs.
    Batches slice windows, so a month's state is the weighted-ECDF merge
    of its batches' (and buckets') sketches, exactly as the engine merges
    bucket sketches; the pooled reference is the merge of all months.
    Replayed batches dedup to their latest row first."""
    import os
    import re

    from ..operators.drift import merge_quantile_sketches
    from ..plans import checkpoint as cp
    from ..plans.engine import _drift_rows_from_sketches, _merge_to_months

    n_buckets = cp._read_scheme(spark, os.path.join(work_dir, "_scheme")) or 1
    stored = cp.latest_window_sketches(spark, os.path.join(work_dir, "checkpoint"))
    pat = re.compile(r"stream:\d+:(.+)")
    parts = [(m.group(1), s) for pid, s in stored.items() if (m := pat.fullmatch(pid))]
    windows = _merge_to_months(parts, n_buckets)
    _, q_ref = merge_quantile_sketches(windows.values())
    return _drift_rows_from_sketches(windows, q_ref, threshold, min_rows)


def run_stream_once(stream_df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain all available input into a memory sink (availableNow) and stop —
    the test/validation harness for the streaming plans."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_rule_verdicts(
    pages_stream: DataFrame,
    constraints: list[tuple[str, str, str]],
    ts_col: str = "warc_ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming grouped constraint verification: the batch rule battery
    (``operators/constraints.py``) evaluated per event-time window →
    ``(window_start, window_end, column, constraint, detail, n_violations,
    passed)`` — Deequ's VerificationSuite lifted onto Structured Streaming,
    the live face of ``EngineConfig.grouped_rules``.

    Goes through the SAME verdict helper as the batch faces
    (``operators/constraints.py::rule_verdicts``), so a rule list suggested
    on last month's table gates the live crawl with identical semantics —
    one watermarked windowed aggregation (bounded state: a fixed handful of
    counters per open window), verdicts unpivoted by the same JVM-side
    struct explode. Kinds whose state cannot stream (UNIQUE's exact
    distinct, QUANTILE_BETWEEN's percentile) raise loudly at plan time —
    streaming dup detection is ``stream_duplicates_within_horizon``'s job.

    Output mode contract: windows finalize at the watermark, so drain with
    append mode (each window's verdicts emit exactly once) or update mode
    for provisional verdicts per micro-batch."""
    from ..operators.constraints import rule_verdicts

    windows = pages_stream.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window_duration)
    )
    return rule_verdicts(windows, ["window"], constraints, streaming=True).selectExpr(
        "window.start AS window_start", "window.end AS window_end",
        "`column`", "`constraint`", "detail", "n_violations", "passed",
    )


def stream_dedup_clusters(
    pages_stream: DataFrame,
    state_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    available_now: bool = True,
):
    """Continuous near-dup CLUSTER state over a crawl stream: every
    micro-batch (1) finds its in-batch LSH pairs, (2) probes the persisted
    MinHash band index for pairs against EVERY prior batch without
    re-reading any prior text, (3) folds both into the persisted
    ``(doc_id, cluster_id)`` labeling via the star-edge merge
    (operators/dedup.py:merge_clusters), and (4) appends its own band rows
    to the index. Per-batch cost is |batch| signatures + |batch|-vs-index
    probe + |labels|+|delta| clustering — never the accumulated corpus.

    Equivalence law (pinned by test): after draining the stream, the
    cluster state equals ``duplicate_clusters(minhash_lsh_pairs(whole
    corpus))`` — a colliding pair either shares a batch (step 1) or spans
    batches (step 2, the index holds all prior band rows), and estimated
    Jaccard is a pure signature function, so the streamed decomposition
    loses nothing (cap semantics differ per-bucket-population; identical
    when no bucket caps, the non-degenerate case).

    Replay tolerance: a re-run batch re-appends its band rows (duplicate
    index rows collapse in the probe's ``distinct()``), re-finds the same
    pairs, and re-merges them — cluster state is MONOTONE under pair
    re-delivery, so at-least-once delivery yields exactly-once state.

    State layout: ``{state_dir}/minhash_index`` (the dedup_vs_index
    contract, params sidecar included), ``{state_dir}/clusters`` parquet,
    ``{state_dir}/_stream_checkpoint`` for source offsets."""
    import os

    from ..operators.dedup import (
        dedup_vs_index,
        duplicate_clusters,
        merge_clusters,
        minhash_lsh_pairs,
        write_minhash_index,
        _INDEX_PARAMS_FILE,
    )

    index_path = os.path.join(state_dir, "minhash_index")
    clusters_path = os.path.join(state_dir, "clusters")
    stream_cp = os.path.join(state_dir, "_stream_checkpoint")

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = (
            batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            .where(F.col("text").isNotNull())
            .persist()
        )
        try:
            if batch.rdd.isEmpty():
                return
            pairs = minhash_lsh_pairs(
                batch, "doc_id", "text", k=k, n_hashes=n_hashes,
                n_bands=n_bands, threshold=threshold, seed=seed,
                max_bucket=max_bucket,
            ).select("doc_a", "doc_b")
            if os.path.exists(os.path.join(index_path, _INDEX_PARAMS_FILE)):
                cross = dedup_vs_index(
                    batch, index_path, "doc_id", "text",
                    threshold=threshold, max_bucket=max_bucket,
                ).select(
                    F.col("new_id").alias("doc_a"),
                    F.col("index_id").alias("doc_b"),
                )
                pairs = pairs.unionByName(cross)
            if os.path.isdir(clusters_path):
                old = spark.read.parquet(clusters_path)
                labels = merge_clusters(old, pairs)
            else:
                labels = duplicate_clusters(pairs)
            # materialize BEFORE overwriting the parquet the lineage reads
            labels = labels.localCheckpoint(eager=True)
            labels.write.mode("overwrite").parquet(clusters_path)
            # append band rows LAST: a probe never sees its own batch
            write_minhash_index(
                batch, index_path, "doc_id", "text", k=k,
                n_hashes=n_hashes, n_bands=n_bands, seed=seed, mode="append",
            )
        finally:
            batch.unpersist()

    writer = pages_stream.writeStream.foreachBatch(do_batch).option(
        "checkpointLocation", stream_cp
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
