"""Work-dir maintenance: compact + vacuum the violations store.

An incremental chain appends one small parquet file batch per run per
partition_id directory forever — the exact small-file pathology
``layout_audit`` flags, plus dead rows no future read can ever surface
(the engine's read path keeps only the latest validator's record rows per
partition and never inherits another run's GLOBAL-scope rows —
plans/engine.py read filter). This module is the OPTIMIZE + VACUUM analog
(Delta/Iceberg maintenance): rewrite each partition directory as ~one
file, optionally dropping rows that are unreachable by any future read.

Vacuum keep-rules (the engine's read filter, by construction: both ask the
same ``checkpoint.Lineage`` snapshot for the latest validators, under the
one latest-wins order ``checkpoint.latest``):
  1. legacy rows (``_run_id`` null) — always readable,
  2. rows whose (partition_id, _run_id) is the checkpoint table's LATEST
     validator of that partition — the inheritable record-scoped history,
  3. every row of the overall latest finished run — its GLOBAL-scope rows
     are the chain's current uniqueness/drift findings, and a resume of
     that run_id re-reads its own rows,
  4. streaming-ingestion runs' rows (runs whose checkpoints are
     ``stream:*`` batch lineage — excluded from latest_validators by
     design) unless a batch run revalidated the window AFTER the stream
     run's last batch: a batch backfill re-reads the whole table, so it
     supersedes every streamed finding older than itself, but a stream
     that appended into a window after its batch validation carries LIVE
     findings for rows the batch never saw (kept conservatively at
     stream-run granularity — rows are run-stamped, not batch-stamped).

Caveats (documented like Delta VACUUM's):
  - offline maintenance only — do not run concurrently with a validation
    run on the same work_dir (the directory swap is not transactional;
    the swap window is two FS renames).
  - after vacuum, resuming run_ids OLDER than the latest is unsupported
    (their superseded rows are gone — the analog of losing time travel).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import STAMPED_VIOLATIONS_SCHEMA
from . import checkpoint as cp


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _count_files(spark: SparkSession, path: str) -> int:
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return 0
    it, n = fs.listFiles(jpath, True), 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            n += 1
    return n


def _read_raw(spark: SparkSession, violations_path: str) -> DataFrame:
    return spark.read.schema(STAMPED_VIOLATIONS_SCHEMA).parquet(violations_path)


def latest_finished_run(spark: SparkSession, checkpoint_path: str) -> str | None:
    """run_id with the newest finished_at checkpoint row (ties: the
    latest-wins order's smallest run_id)."""
    return cp.Lineage.read(spark, checkpoint_path).latest_run()


def compact_violations(
    spark: SparkSession, work_dir: str, vacuum: bool = True
) -> dict:
    """Rewrite ``{work_dir}/violations`` as ~one file per partition_id
    directory; with ``vacuum`` also drop rows no future engine read can
    surface (keep-rules above). Returns before/after stats. The rewrite
    goes to a temp sibling and is swapped in with two renames — crash
    between them leaves ``violations.pre-*`` to recover from manually.
    """
    vpath = f"{work_dir}/violations"
    cpath = f"{work_dir}/checkpoint"
    fs, jvpath = _fs(spark, vpath)
    if not fs.exists(jvpath):
        return {"skipped": "no violations dir"}

    raw = _read_raw(spark, vpath)
    stats = {
        "n_files_before": _count_files(spark, vpath),
        "n_rows_before": raw.count(),
    }
    keep = raw
    lineage = cp.Lineage.read(spark, cpath) if vacuum else cp.Lineage()
    if vacuum and not lineage.checkpoints:
        # no lineage → cannot tell live rows from dead; deleting stamped
        # rows here would be data loss, so degrade to compact-only, loudly
        stats["vacuum_skipped"] = "no checkpoint lineage in work_dir"
        vacuum = False
    if vacuum:
        validations = lineage.latest_validations()
        inherit_keys = sorted(f"{pid}\x00{r.run_id}" for pid, r in validations.items())
        last_run = lineage.latest_run()
        cond = F.col("_run_id").isNull() | F.concat_ws(
            "\x00", F.col("partition_id"), F.col("_run_id")
        ).isin(inherit_keys)
        if last_run is not None:
            cond = cond | (F.col("_run_id") == last_run)
        stream_last = lineage.stream_runs_finished()
        if stream_last:
            # (run, window) pairs a later batch validation supersedes
            superseded = sorted(
                f"{pid}\x00{rid}"
                for rid, last in stream_last.items()
                for pid, r in validations.items()
                if r.finished_at is not None and last is not None and r.finished_at > last
            )
            cond = cond | (
                F.col("_run_id").isin(sorted(stream_last))
                & ~F.concat_ws(
                    "\x00", F.col("partition_id"), F.col("_run_id")
                ).isin(superseded)
            )
        keep = raw.where(cond)

    tag = uuid.uuid4().hex[:8]
    tmp = f"{work_dir}/violations.compact-{tag}"
    # one shuffle keyed on partition_id → each writer task owns whole
    # partition dirs → ~1 file per directory
    keep.repartition("partition_id").write.mode("overwrite").partitionBy(
        "partition_id"
    ).parquet(tmp)

    pre = f"{work_dir}/violations.pre-{tag}"
    _, jtmp = _fs(spark, tmp)
    _, jpre = _fs(spark, pre)
    if not fs.rename(jvpath, jpre):
        raise IOError(f"compact swap failed renaming {vpath} -> {pre}")
    if not fs.rename(jtmp, jvpath):
        fs.rename(jpre, jvpath)  # roll back
        raise IOError(f"compact swap failed renaming {tmp} -> {vpath}")
    fs.delete(jpre, True)

    stats.update(
        n_files_after=_count_files(spark, vpath),
        n_rows_after=_read_raw(spark, vpath).count(),
        vacuumed=vacuum,
    )
    return stats
