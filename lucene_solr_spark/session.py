"""SparkSession factory tuned for this engine.

Local mode runs one JVM at local[cpus]: ``cpus`` defaults to
``SPARK_GRAFT_CPUS``, else to the CPUs this process may run on
(``os.sched_getaffinity``), so a caller that passes nothing matches the
host. The same settings are what we'd ship in spark-defaults for a
multi-executor cluster — AQE on, Arrow on, shuffle partitions sized to
cores (overridable by env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "lucene_solr_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # NOTE: keep the local-mode heap modest. A 48g max heap makes G1's
        # young gen balloon; its GC page-touching contends with the 32 Python
        # workers for memory bandwidth and inflates Arrow-UDF CPU ~5x
        # (measured: 1M-turn analyze pass 17.7s @48g vs 5.8s @8g). On a real
        # cluster executors size heap to cores for the same reason.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
