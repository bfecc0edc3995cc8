"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same conf scales to a real
cluster. Shuffle partitions are the engine's cores: batch shuffles
start there and AQE coalesces down from it, and a stream's stateful
stage (one state-store partition per shuffle partition, each a Python
task) runs as one wave of tasks per micro-batch. A streaming query
fixes its state partition count at its first start, so a checkpoint
written under another count keeps that count on restart.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "wally_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (guide §3.1): let the planner pick shuffled-hash join when
        # its size conditions are met — A/B-measured contrastive_pairs
        # -17%, pool_filter_report -6%, join-heavy TPC-H lanes neutral.
        # Safe with AQE sizing; SMJ remains the fallback whenever the
        # build side estimate exceeds the per-partition threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("WALLY_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    # Python workers inherit the driver JVM's env, but the
    # transformWithState STREAMING runner builds its PYTHONPATH from the
    # UDF's envVars (= spark.executorEnv.*) instead — mirror the driver
    # PYTHONPATH there so worker-side bootstraps (protobuf shim, test
    # modules) reach every worker kind. Must be set pre-context.
    pythonpath = os.environ.get("PYTHONPATH")
    if pythonpath:
        builder = builder.config("spark.executorEnv.PYTHONPATH", pythonpath)
    return builder.getOrCreate()
