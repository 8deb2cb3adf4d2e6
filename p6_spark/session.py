"""SparkSession factory tuned for the harness (local[N]) but configured the
way a 1000-executor cluster job would be: AQE on (runtime re-planning,
partition coalescing, skew-join splitting), Arrow on (vectorized
Python<->JVM), UTC session timezone (oracle comparability), shuffle
partitions sized to the parallelism rather than the 200 default.

On a real cluster the same builder applies — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM in whole GiB, between 1g and 48g: a default
    that fits the machine it runs on (a fixed 48g let a shared test JVM
    outgrow a 15 GB box)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


def get_spark(
    app_name: str = "p6_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (harness contract).
    ``P6_SPARK_DRIVER_MEM`` overrides the driver heap (default:
    ``_default_driver_memory()``).
    ``extra_conf`` overlays builder configs (measurement harnesses, e.g.
    the memory profiler re-enabling the UI for its stage-metrics REST
    API) — only effective when this call CREATES the session.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~= cores in local mode; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("P6_SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode split sizing: harness files are a few MB, and the
        # 128 MiB default would scan each as ONE task; 4 MiB keeps all
        # cores busy. On a real cluster revert to the default — there
        # files are row-group sized and 128 MiB amortizes scheduling.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
