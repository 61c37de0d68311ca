"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` (N from ``SPARK_GRAFT_CPUS``, default
32); the same settings are cluster-safe: AQE for runtime re-planning and
skew handling, UTC session timezone (required for DuckDB-oracle parity —
DuckDB timestamps are UTC-naive), Arrow for the pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "etl_instagram_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpu_count()
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (over-parallelized for
        # sub-GB inputs; at cluster scale this is set per-job or left to AQE).
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Sort-merge join by default: a static shuffled-hash preference
        # trusts build-side size ESTIMATES, and a post-filter misestimate
        # makes SHJ OOM where SMJ's sort would spill. SMJ→SHJ rewrites
        # ride the AQE threshold below, gated on MEASURED post-shuffle
        # sizes.
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long-lived sessions (the 40-min test suite, multi-rep bench
        # runs) accumulate localCheckpoint/broadcast/shuffle blocks that
        # the ContextCleaner only reclaims after a JVM GC notices the
        # dead refs; the default periodic-GC interval is 30 MINUTES, so
        # a session degrades steadily for its whole first half hour
        # (r20: a 10 s streaming test read 62 s late in the suite).
        # 2 min keeps reclamation ahead of accumulation; at cluster
        # scale the same setting is the standard long-running-driver
        # hygiene knob.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no `[Stage N: ...]\r` redraws interleaved with a tool's stdout
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed-table warehouse (bucketed tables); static conf, so set here
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
