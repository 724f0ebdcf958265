"""Checkpoint / lineage table + resume protocol (FIXTURES.md F4).

Reference analog: JobStorage persisting every JobStatusResponse per jobId
(jobserver/impl/FileJobStorage.java:53-133) and the master's per-split
DataWorkResult accounting in driver memory
(processor/DataFileProcessorMaster.java:282-343).

Protocol (SURVEY.md §7.4 "Resume correctness"):
  1. a partition's violations are durably appended FIRST,
  2. then its checkpoint row (run_id, partition_id, status, counts, lineage)
     is appended — so a checkpoint row implies its violations exist;
  3. resume reads completed partition_ids for the run and prunes the
     work-list BEFORE the scan (partition filter on the derived partition
     column → at cluster scale this is Iceberg partition pruning, here a
     pushed-down predicate). Replays are idempotent: re-validated partitions
     overwrite by (run_id, partition_id) dedup at read time (latest wins).

Read-once snapshot: the lineage tables (``checkpoint/``, ``profiles/``,
``sketches/``) hold one row per window per run, so a run collects each ONCE
(explicit schema) into a driver-side :class:`Lineage` — the one reader —
and answers every lineage question in plain Python; :func:`latest` is the
one latest-wins order, and the module-level queries are one-line wrappers
over a snapshot (``_scheme`` is read once, by ``ensure_partition_scheme``).
Runs over one work_dir are single-writer. Storage is a
plain parquet directory (Iceberg-shaped: append-only, keyed by (run_id,
partition_id)); an Iceberg catalog changes only ``append_*``/``_collect``.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, Row, SparkSession

from ..model import CHECKPOINT_SCHEMA, PROFILE_SCHEMA, SKETCH_SCHEMA

GLOBAL_PARTITION = "GLOBAL"

_CheckpointRow = Row(*CHECKPOINT_SCHEMA.names)
_SCHEME_SCHEMA = "n_buckets int"


def latest(rows, key) -> dict:
    """The latest-wins rule of every lineage table: per ``key(row)``, the
    row with the newest ``finished_at`` (nulls last); ties go to the
    smallest ``run_id``. Returns ``{key: row}``."""
    by_run = sorted(rows, key=lambda r: r.run_id)
    newest_first = sorted(
        by_run, key=lambda r: r.finished_at or _dt.datetime.min, reverse=True
    )
    out: dict = {}
    for r in newest_first:
        out.setdefault(key(r), r)
    return out


def _validated(r) -> bool:
    """A batch validation row: PASS/FAIL, not a streaming-batch row."""
    return r.status in ("PASS", "FAIL") and not r.partition_id.startswith("stream:")


class Lineage:
    """Driver-side snapshot of one work_dir's lineage tables. Checkpoint
    rows are kept deduped to the latest per (run_id, partition_id)."""

    def __init__(self, checkpoints=(), profiles=(), sketches=()):
        self.checkpoints = list(
            latest(checkpoints, lambda r: (r.run_id, r.partition_id)).values()
        )
        self.profiles = list(profiles)
        self.sketches = list(sketches)

    @classmethod
    def read(
        cls, spark: SparkSession, checkpoint=None, profiles=None, sketches=None
    ) -> Lineage:
        """Collect each given table path once; an absent table reads empty."""
        return cls(
            _collect(spark, checkpoint, CHECKPOINT_SCHEMA),
            _collect(spark, profiles, PROFILE_SCHEMA),
            _collect(spark, sketches, SKETCH_SCHEMA),
        )

    def with_checkpoints(self, tuples) -> Lineage:
        """This snapshot plus CHECKPOINT_SCHEMA tuples a run just wrote;
        they replace any snapshot row with the same (run_id, partition_id)."""
        new = [_CheckpointRow(*t) for t in tuples]
        keys = {(r.run_id, r.partition_id) for r in new}
        old = [r for r in self.checkpoints if (r.run_id, r.partition_id) not in keys]
        return Lineage(old + new, self.profiles, self.sketches)

    def has_run(self, run_id: str) -> bool:
        return any(r.run_id == run_id for r in self.checkpoints)

    def completed(self, run_id: str) -> list[str]:
        """Partition ids already validated for this run (driver-side list; the
        partition universe is small — months × buckets — even at 100 TB)."""
        return sorted(
            r.partition_id
            for r in self.checkpoints
            if r.run_id == run_id and r.status in ("PASS", "FAIL")
        )

    def completed_all_runs(self) -> list[str]:
        """Partition ids validated by ANY run in this work_dir — the
        incremental-chain prune set (the work_dir is one table's lineage).
        UNKNOWN* (null/invalid warc_ts) is never pruned: every append can
        add null-ts rows there, and pruning it would leave newly appended
        malformed records unvalidated."""
        return sorted(
            {
                r.partition_id
                for r in self.checkpoints
                if _validated(r) and not r.partition_id.startswith("UNKNOWN")
            }
        )

    def latest_validations(self) -> dict:
        """partition_id → checkpoint row of the run that most recently
        validated it (batch PASS/FAIL rows only). The incremental read
        filter inherits ONLY violation rows written by a window's current
        validator — an older run's rows for a since-revalidated window are
        stale (the finding may have been fixed)."""
        return latest(filter(_validated, self.checkpoints), lambda r: r.partition_id)

    def latest_run(self) -> str | None:
        """run_id of the newest checkpoint row."""
        row = latest(self.checkpoints, lambda r: None).get(None)
        return row.run_id if row else None

    def stream_runs_finished(self) -> dict:
        """run_id → last finished_at of each streaming-ingestion run."""
        stream = (r for r in self.checkpoints if r.partition_id.startswith("stream:"))
        return {rid: r.finished_at for rid, r in latest(stream, lambda r: r.run_id).items()}

    def run_summary(self, run_id: str, chain: bool) -> tuple[dict, int]:
        """``(partition_verdicts, n_rows)`` of a run's report: its own rows
        (a resumed run's earlier partitions included); with ``chain`` the
        report describes the WHOLE table, so every other window folds in
        from its latest validator (per-run GLOBAL rows and streaming batch
        rows never fold)."""
        mine = [r for r in self.checkpoints if r.run_id == run_id]
        verdicts = {r.partition_id: r.status for r in mine}
        n_rows = sum(r.n_rows for r in mine)
        if chain:
            history = [
                r
                for r in self.checkpoints
                if r.run_id != run_id
                and r.partition_id != GLOBAL_PARTITION
                and not r.partition_id.startswith("stream:")
            ]
            for pid, r in latest(history, lambda r: r.partition_id).items():
                if pid not in verdicts:
                    verdicts[pid] = r.status
                    n_rows += r.n_rows
        return verdicts, n_rows

    def window_profiles(self) -> dict:
        """partition_id → profile-state dict (n_rows, counts, hlls, len_q,
        len_avg) from each window's latest validator."""
        return {
            pid: {
                "n_rows": r.n_rows or 0,
                "counts": dict(r.counts or {}),
                "hlls": dict(r.hlls or {}),
                "len_q": {k: list(v) for k, v in (r.len_q or {}).items()},
                "len_avg": dict(r.len_avg or {}),
            }
            for pid, r in latest(self.profiles, lambda r: r.partition_id).items()
        }

    def window_sketches(self, run_id: str | None = None) -> dict:
        """partition_id → (drift_n, drift_q) from the run that most recently
        wrote the window's sketch (the same latest-validator discipline as
        the violations read filter); ``run_id`` restricts to one run."""
        rows = [r for r in self.sketches if run_id is None or r.run_id == run_id]
        return {
            pid: (r.drift_n or 0, list(r.drift_q) if r.drift_q is not None else None)
            for pid, r in latest(rows, lambda r: r.partition_id).items()
        }


def read_checkpoints(spark: SparkSession, path: str) -> DataFrame:
    """All checkpoint rows, deduped to the latest per (run_id, partition_id)."""
    return spark.createDataFrame(Lineage.read(spark, path).checkpoints, CHECKPOINT_SCHEMA)


def completed_partitions_all_runs(spark: SparkSession, path: str) -> list[str]:
    """See :meth:`Lineage.completed_all_runs`."""
    return Lineage.read(spark, path).completed_all_runs()


def latest_validators(spark: SparkSession, path: str) -> dict[str, str]:
    """partition_id → run_id; see :meth:`Lineage.latest_validations`."""
    return {p: r.run_id for p, r in Lineage.read(spark, path).latest_validations().items()}


def completed_partitions(spark: SparkSession, path: str, run_id: str) -> list[str]:
    """See :meth:`Lineage.completed`."""
    return Lineage.read(spark, path).completed(run_id)


def latest_window_profiles(spark: SparkSession, path: str) -> dict:
    """See :meth:`Lineage.window_profiles`."""
    return Lineage.read(spark, profiles=path).window_profiles()


def latest_window_sketches(spark: SparkSession, path: str) -> dict:
    """See :meth:`Lineage.window_sketches`."""
    return Lineage.read(spark, sketches=path).window_sketches()


def append_checkpoints(checkpoint_rows: DataFrame, path: str) -> None:
    checkpoint_rows.write.mode("append").parquet(path)


def append_sketches(spark: SparkSession, tuples: list[tuple], path: str) -> None:
    """Persist per-window drift-sketch rows (SKETCH_SCHEMA tuples). Append-
    only like the checkpoint table; replays dedup at read time."""
    if tuples:
        spark.createDataFrame(tuples, schema=SKETCH_SCHEMA).write.mode(
            "append"
        ).parquet(path)


def append_profiles(spark: SparkSession, tuples: list[tuple], path: str) -> None:
    """Persist per-window profile-state rows (PROFILE_SCHEMA tuples)."""
    if tuples:
        spark.createDataFrame(tuples, schema=PROFILE_SCHEMA).write.mode(
            "append"
        ).parquet(path)


def build_checkpoint_tuples(
    run_id: str,
    counts_by_partition: dict[str, dict[str, int]],
    n_rows_by_partition: dict[str, int],
    started,
    finished,
    blocking: frozenset | None = None,
) -> list[tuple]:
    """CHECKPOINT_SCHEMA-shaped rows from per-partition check counts: the
    single definition of the blocking-verdict fold and tuple order, shared
    by the batch engine and the streaming sink (a drifting copy of this
    shape is how lineage tables rot). ``blocking`` defaults to the built-in
    set; the engine passes its config-aware set (custom blocking checks)."""
    from ..model import BLOCKING_CHECKS

    if blocking is None:
        blocking = BLOCKING_CHECKS
    out = []
    for pid in sorted(set(counts_by_partition) | set(n_rows_by_partition)):
        checks = counts_by_partition.get(pid, {})
        out.append(
            (
                run_id,
                pid,
                "FAIL" if any(k in blocking for k in checks) else "PASS",
                n_rows_by_partition.get(pid, 0),
                sum(checks.values()),
                checks,
                started,
                finished,
            )
        )
    return out


def ensure_partition_scheme(spark: SparkSession, work_dir: str, n_buckets: int) -> None:
    """The first run against a work_dir records its partition scheme in
    ``{work_dir}/_scheme``; every later run (resume or incremental) must use
    the same ``n_buckets`` — a silent mismatch would make pruning skip
    never-validated bucket slices (format-only id checks can't catch a
    4-bucket baseline read with 2 buckets). Raises ValueError on mismatch."""
    p = os.path.join(work_dir, "_scheme")
    recorded = _read_scheme(spark, p)
    if recorded is None:
        # crash-safe write: an interrupted first run must not leave a
        # half-written _scheme that bricks the work_dir, and concurrent
        # first runs must converge — write to a temp dir, then promote with
        # an atomic rename (fails if a concurrent writer won; re-read then).
        import uuid as _uuid

        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            # exists but unreadable/empty = an interrupted writer's garbage;
            # remove it, else rename-into-existing-dir would nest the temp
            # dir inside instead of replacing it
            fs.delete(jpath, True)
        tmp = os.path.join(work_dir, f"_scheme.tmp-{_uuid.uuid4().hex[:8]}")
        spark.createDataFrame([(n_buckets,)], _SCHEME_SCHEMA).coalesce(1).write.parquet(tmp)
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jpath):
            fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)  # lost the race
        recorded = _read_scheme(spark, p)
    if recorded is not None and recorded != n_buckets:
        raise ValueError(
            f"work_dir {work_dir!r} was written with a different partition "
            f"scheme (n_buckets={recorded}); this run uses "
            f"n_buckets={n_buckets} — pruning would be incorrect. "
            f"Rerun with n_buckets={recorded}."
        )



def _read_scheme(spark: SparkSession, p: str) -> int | None:
    """n_buckets from a _scheme dir; None if absent, empty, or unreadable
    (an interrupted writer's leftovers count as absent, not as corruption)."""
    try:
        rows = _collect(spark, p, _SCHEME_SCHEMA)
        return rows[0].n_buckets if rows else None
    except Exception:
        return None


def _collect(spark: SparkSession, path: str | None, schema) -> list:
    """One table's rows through its explicit schema (no inference job);
    empty when ``path`` is None or absent."""
    if path is None or not _exists(spark, path):
        return []
    return spark.read.schema(schema).parquet(path).collect()


def _exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check through the Hadoop FS API — the
    work_dir is an object-store URI (s3://, hdfs://, abfs://) in production,
    where a driver-local os.path check would always be False (silently
    disabling resume and emptying the final report)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)
