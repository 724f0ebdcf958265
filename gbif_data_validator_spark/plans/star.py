"""Star-schema validation: one core table + N extension tables.

Reference analog: ``DwcDataFile`` — "currently organized as star schema",
exactly 1 core + N extensions indexed by RowTypeKey (api/DwcDataFile.java:
19-42, star-schema comment :23-25; RowTypeKey.name() "core_Occurrence"
api/RowTypeKey.java:96-98). Referential integrity runs once per extension:
extension ids with no match in the core id column →
RECORD_REFERENTIAL_INTEGRITY_VIOLATION, plus empty-id scans on BOTH sides
(evaluator/ReferentialIntegrityEvaluator.java:54-87, empty-id :74-86;
golden test: unlinked id "ZZ", empty-id line numbers —
ReferentialIntegrityEvaluatorTest.java:38-85).

Spark design: the awk build-side hash (``FNR==NR{a[$k];next}``) becomes a
hash anti-join on the core's key column. Unlike the tiny lang dimension
(operators/referential.py, always broadcast), a star core is usually the
BIG side, so the default is a shuffle anti-join of the extension against
``core.select(key).distinct()`` — Catalyst/AQE picks broadcast on its own
when the distinct key set is small; ``broadcast_core=True`` forces the
reference's literal build-side-in-memory shape. Each table's findings carry
``partition_id = "ext:<name>"`` / ``"core"`` — the RowTypeKey analog — so
per-partition verdicts and checkpoints separate per table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.predicates import is_blank, non_blank
from ..model import CheckId

CORE_PARTITION = "core"


def _empty_key_violations(df: DataFrame, key_col: str, partition: str) -> DataFrame:
    """J2 empty-id scan — the anti-join silently drops null/blank keys, so
    they are their own finding (same trap as awk hash lookup)."""
    key = F.col(key_col)
    return df.where(is_blank(key)).select(
        F.coalesce(key, F.lit("NULL")).alias("url"),
        F.lit(CheckId.KEY_EMPTY).alias("check_id"),
        F.lit(f"non-empty {key_col}").alias("expected"),
        F.coalesce(key, F.lit("NULL")).alias("found"),
        F.create_map(F.lit("table"), F.lit(partition)).alias("related_data"),
        F.lit(partition).alias("partition_id"),
    )


def extension_referential_violations(
    ext: DataFrame,
    core: DataFrame,
    name: str,
    ext_key: str,
    core_key: str,
    broadcast_core: bool = False,
) -> DataFrame:
    """Orphan extension rows (non-blank key, no core match) →
    RECORD_REFERENTIAL_INTEGRITY_VIOLATION keyed to "ext:<name>"."""
    core_keys = core.select(F.col(core_key).alias(ext_key)).distinct()
    if broadcast_core:
        core_keys = F.broadcast(core_keys)
    orphans = ext.where(non_blank(F.col(ext_key))).join(
        core_keys, on=ext_key, how="left_anti"
    )
    partition = f"ext:{name}"
    return orphans.select(
        F.col(ext_key).cast("string").alias("url"),
        F.lit(CheckId.RECORD_REFERENTIAL_INTEGRITY_VIOLATION).alias("check_id"),
        F.lit(f"{ext_key} present in core.{core_key}").alias("expected"),
        F.col(ext_key).cast("string").alias("found"),
        F.create_map(F.lit("table"), F.lit(partition)).alias("related_data"),
        F.lit(partition).alias("partition_id"),
    )


def extension_violations(
    core: DataFrame,
    extensions: dict[str, tuple[DataFrame, str]],
    core_key: str = "url",
    broadcast_core: bool = False,
) -> DataFrame | None:
    """The extension half of ``validate_star``: the empty-id scan and the
    referential pass of every extension, each keyed to "ext:<name>" (None
    for no extensions). ``ValidationEngine.run_star`` joins these to the
    core's own pass battery, whose record checks already flag empty core
    keys."""
    out = None
    for name, (ext, ext_key) in extensions.items():
        found = _empty_key_violations(ext, ext_key, f"ext:{name}").unionByName(
            extension_referential_violations(
                ext, core, name, ext_key, core_key, broadcast_core
            )
        )
        out = found if out is None else out.unionByName(found)
    return out


def validate_star(
    core: DataFrame,
    extensions: dict[str, tuple[DataFrame, str]],
    core_key: str = "url",
    broadcast_core: bool = False,
) -> DataFrame:
    """DwcDataFile-shaped validation: empty-id scan on the core and on every
    extension, plus one referential pass per extension. Returns one
    violations DF (unionByName — the U1 mergeOnFilename analog).

    Scale shape: one narrow scan per table for the empty-key predicate; one
    anti-join per extension whose build side is ``core.select(key)
    .distinct()`` — the 100 TB core is reduced to its key column before any
    shuffle, and each extension is scanned exactly once."""
    out = _empty_key_violations(core, core_key, CORE_PARTITION)
    ext = extension_violations(core, extensions, core_key, broadcast_core)
    return out if ext is None else out.unionByName(ext)
