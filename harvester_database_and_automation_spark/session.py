"""SparkSession factory.

Defaults are sized for the local[N] test harness but every setting is the
one you would also want on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for any
pandas exchange, UTC session timezone (oracle comparison and determinism),
and shuffle partitions sized to the environment instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "harvester-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    pass ``None`` via spark-submit and the master comes from the submit env.
    """
    cpus = _cpus()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # Deterministic timestamp behavior across engines.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.enabled": (
            "true"
            if os.environ.get("SPARK_UI", "false").strip().lower() in ("1", "true", "yes", "on")
            else "false"
        ),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        # Off: capturing each Column/DataFrame call site costs ~10 py4j round trips per call.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # Working set: all 196 queries compile ~2,700 classes cold; the 100 default evicts each before reuse.
        "spark.sql.codegen.cache.maxEntries": "4096",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
