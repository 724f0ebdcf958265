"""SparkSession factory with scale-oriented defaults.

Local-mode testing uses ``local[N]``; the same settings apply unchanged on a
multi-executor cluster (spark-submit --py-files). Defaults follow the north
star: AQE on (skew-join + partition coalescing), Arrow on (vectorized pandas
UDFs), shuffle partitions sized to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "gbif-data-validator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for the validation workload.

    At cluster scale the same config applies; only ``master`` changes. AQE
    re-plans shuffle partition counts and splits skewed join partitions at
    runtime; aggregations need no skew guard (the map-side partial
    aggregate folds a hot key to one row per map task).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # In local mode: match parallelism (every core busy, no tiny-task
        # overhead). On a real cluster this should be ~2-3x total cores and
        # AQE coalesces down; we set the initial number high and let AQE
        # shrink it.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — coalesce small shuffle partitions, split
        # skewed ones (hot-domain urls), convert to broadcast when a side
        # turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for pandas UDFs — the only sanctioned Python path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # html:binary rows are wide — keep scan partitions bounded by bytes.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: lang dim and check dimension tables are tiny.
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
