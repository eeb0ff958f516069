"""SparkSession factory + per-session tuning.

The driver hands our entrypoints an existing SparkSession, so tuning is split:
``get_spark`` builds a session for tests/bench; ``tune`` applies the
runtime-settable confs to ANY session (driver-provided included).

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions sized
by env, UTC timezone so timestamp semantics match the DuckDB oracle, Arrow on
for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: Confs settable at runtime on a live session.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (region/nation/supplier/part at our SFs) should broadcast
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning was
    # tried here (lets AQE coalesce downstream of persisted inputs) and
    # REVERTED: across the full 132-query suite it regressed unrelated
    # queries ~2x steady-state (planning-time interaction with the many
    # accumulated cached plans), far outweighing the small-cached-input
    # stage-overhead win it bought the dedup consumers.
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    return spark


def host_cpus() -> int:
    """CPUs this process may run on — the default ``local[N]`` width when
    ``SPARK_GRAFT_CPUS`` is unset."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half the host's
    physical memory (the rest is Python workers, off-heap and the OS),
    at least 1 GB and at most 16 GB."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    mb = phys // 2 // (1024 * 1024)
    return f"{min(max(mb, 1024), 16 * 1024)}m"


def get_spark(app_name: str = "mover-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
