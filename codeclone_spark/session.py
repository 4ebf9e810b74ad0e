"""SparkSession factory.

One place to set every config that matters for correctness (UTC timestamps
so DuckDB oracles compare cleanly; Arrow for vectorized UDFs) and for scale
(AQE with skew-join handling, shuffle partitions sized to cores locally —
on a real cluster these come from spark-submit conf, not code).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "codeclone_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[$SPARK_GRAFT_CPUS or *]``.  On a real cluster
    the master/conf come from spark-submit; this factory only applies
    session-level SQL conf in that case.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cores_env}]"
        n_cores = os.cpu_count() or 8 if cores_env == "*" else int(cores_env)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness-critical: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Vectorized Python UDFs (the only allowed Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Runtime re-planning: coalesce small shuffles, split skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # finer input splits: decode tasks pack onto cores without a
        # one-straggler tail wave (default 128MB -> few huge tasks locally)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Local testing QoL; harmless on cluster (overridden by submit conf).
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )

