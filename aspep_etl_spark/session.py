"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (SURVEY.md §6 north star):
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
broadcast threshold sized for dimension tables, Arrow for any pandas
interchange, and UTC session time so timestamp semantics are engine-stable.

Local test/bench runs honor ``SPARK_GRAFT_CPUS`` (driver contract).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition sizing: on a real cluster this should be ~2-3x total cores and
# is largely superseded by AQE coalescing; locally we match the core count
# so sf0.1 bench shuffles don't fragment into tiny tasks.
def default_shuffle_partitions() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical memory capped at
    16g: a 16g default on a 16 GB host let two concurrent sessions take
    the machine down."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "aspep-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing + skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (nation/region/census groups) are tiny; broadcast
        # aggressively so fact-side joins never shuffle the big side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated-class cache: the default 100 entries thrashes once a
        # workload cycles through more than ~100 distinct codegen units —
        # measured on the 17-query bench loop: `events_sessionize` paid
        # 1.0-1.9 s of recompilation EVERY pass because the queries run
        # in between evicted its classes (wall 0.82-0.93 s vs 0.49-0.54 s
        # back-to-back; the monotone r7→r10 creep was the other queries'
        # codegen footprint growing past the cache).  2000 entries keeps
        # every plan's classes resident for tens of MB of metaspace —
        # cheap on any executor sized for real work (PERF.md r11).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MB input splits: good parquet scan granularity at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # Wide analytic plans (the ~150-column delta/rank fan-out) serialize
        # deeply nested operator trees; default 1 MB thread stacks overflow
        # during task (de)serialization.  Applied at JVM launch.
        .config("spark.driver.extraJavaOptions", "-Xss64m")
        .config("spark.executor.extraJavaOptions", "-Xss64m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
