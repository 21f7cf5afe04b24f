"""SparkSession builder with the engine's standard configuration.

Tuned for correctness-at-scale defaults: AQE on (runtime coalesce +
skew-join splitting), Arrow enabled for pandas-UDF stages, UTC session
timezone (oracle comparisons), shuffle partitions sized to cores in
local mode. On a real cluster the same builder is used with
``master``/``shuffle_partitions`` overridden by spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's RAM, at most 24g: a heap allowed to outgrow RAM
    lets a long-lived session grow until the kernel's OOM killer ends
    the JVM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2**31))}g"


def get_spark(
    app_name: str = "protosc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are environment-overridable so the same code path serves
    tests (local[32]), the bench harness (local[8] vs local[32] scaling
    evidence), and spark-submit on a cluster (master=None -> inherit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("PROTOSC_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("PROTOSC_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("PROTOSC_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
