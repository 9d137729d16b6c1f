"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness parity with the DuckDB oracle (UTC session
timezone; ANSI mode is left at Spark 4's default, ``spark.sql.ansi.enabled``
true) and for 100 TB-scale execution (AQE with skew-join handling,
partition coalescing, Arrow for the few Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lakeside-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions`` is a
    local-mode default only — at scale AQE coalesces from a deliberately high
    initial number instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the 64MB advisory target when coalescing (r13): the
        # default (true) keeps post-shuffle parallelism pinned near core
        # count even for kilobyte shuffles, which is exactly the
        # task-dispatch overhead that made the heavy keys run FASTER at
        # 8 cores than 32 at bench scale (r12 scaling block). false is
        # the scale-adaptive setting Spark's docs recommend once AQE is
        # trusted: partition counts derive from shuffle BYTES, so a
        # 100 TB shuffle still gets ~16k partitions/TB while a 100 KB
        # one collapses to a task or two. Measured r13: 30/32 keys
        # faster or flat, none slower, on an A/B over every key family
        # (dedup, tpch, window, ANN, text kernels).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet encodes TIMESTAMP(NANOS); Spark reads them as
        # epoch-nano longs and sources/tables.py converts to timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
