"""SparkSession factory tuned for the local[N] test harness.

The configs mirror what we would set on a real cluster: AQE on (runtime
partition coalescing + skew-join splitting), shuffle partitions sized to
the parallelism actually available, Arrow enabled for every
pandas-interop path, UTC session time zone so timestamp semantics match
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 32g: a heap larger than the
    machine gets the JVM OOM-killed by the kernel instead of failing
    with a Java OutOfMemoryError."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2 >> 20, 32 << 10)}m"


def get_spark(app_name: str = "data-pipeline-playground-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static config — set at create time so bucketed-table tests
        # never write a spark-warehouse/ dir into the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/dpp-spark-warehouse")
    )
    # Scale-dependent overrides stay parameterised (round-14 guide §9
    # discipline): $SPARK_GRAFT_EXTRA_CONFS is a ';'-separated k=v list
    # applied last, so a cluster profile (e.g. io.compression.codec=zstd,
    # files.maxPartitionBytes=1g on real NICs/disks) or an A/B probe can
    # set confs without editing this file. Local defaults above stay the
    # bench-comparable baseline.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``spark.sql.shuffle.partitions`` before a
    CPU-heavy narrow stage (tokenize, n-gram, rolling-hash fold) or the
    probe side of a nested-loop join, which parallelizes over its
    input partitions.

    Test-scale parquet is a single partition, so without this the stage
    runs on one core; at scale many files make it a near no-op. The
    count is explicit: round-robin into a fixed number of partitions
    is a REPARTITION_BY_NUM, which AQE leaves alone, whereas a hash
    repartition can be coalesced back to one partition at this data
    size."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n)
