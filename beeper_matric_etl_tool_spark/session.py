"""SparkSession factory.

Defaults are chosen for the 100 TB design point and merely *scaled down* for
local testing:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting replace
  hand-tuned partition counts on a real cluster.
- ``spark.sql.shuffle.partitions`` seeds AQE's initial partitioning; on a
  1000-executor cluster this would be ~2–3× total cores, locally 32.
- Arrow execution on: every Pandas-UDF boundary (ext tier) is Arrow-batched.
- Session timezone pinned to UTC: the reference stores event time as epoch
  millis and audit time as TIMESTAMPTZ (SURVEY §1.2); pinning UTC makes the
  two interconvertible and keeps results machine-independent.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, customer, supplier ≈ rooms/participants dims) broadcast; facts
  (lineitem/events ≈ messages) shuffle on their join keys only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beeper-matric-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    # AQE stays ON everywhere (runtime coalescing + skew-join splitting are
    # the 100 TB story) — and since the round-4 plan work it measures
    # FASTER at local bench scale too (see bench.py); the env knob remains
    # for A/B experiments only.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    # Scan split size. The 128m Spark default is right for real deployments
    # (HDFS-block-sized splits); the env knob exists because local test
    # parquet is single ~1-10 MB files, where 128m means ONE scan task on 32
    # cores — bench.py sets 8m to restore scan parallelism (see bench.py).
    max_partition_bytes = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce INSIDE cached-plan materializations too (default
        # false): a persisted frame that sits after a shuffle (curate()'s
        # stage caches, the sink batches) otherwise materializes at the
        # full spark.sql.shuffle.partitions fan-out of mostly empty tasks.
        # Scale-independent: coalesced hash partitioning still satisfies
        # downstream clustered-distribution requirements, so no extra
        # exchanges appear at any size.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
