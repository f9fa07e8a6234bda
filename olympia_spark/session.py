"""SparkSession factory tuned for the engine.

Local-mode defaults are sized for the test harness (local[N] single JVM);
the same builder settings are what we would ship for a 1000-executor
cluster — AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability), Arrow transfers
for the Python boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "olympia_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    extra_conf = extra_conf or {}
    if "-Xms" in extra_conf.get("spark.driver.extraJavaOptions", ""):
        # A heap sized up front (-Xms) is touched once, at JVM start, not
        # page by page as statements first allocate there: on a VM a
        # first touch is a page fault of variable cost, so an untouched
        # heap makes latency depend on how much the session allocated
        # before. Spark prepends this option to extraJavaOptions. A heap
        # left to grow is left alone: pre-touch would make each
        # expansion resident whole.
        builder = builder.config("spark.driver.defaultJavaOptions",
                                 "-XX:+AlwaysPreTouch")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
