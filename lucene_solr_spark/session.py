"""SparkSession factory tuned for this engine.

Local mode runs one JVM at local[cpus]: ``cpus`` defaults to
``SPARK_GRAFT_CPUS``, else to the CPUs this process may run on
(``os.sched_getaffinity``), so a caller that passes nothing matches the
host. The same settings are what we'd ship in spark-defaults for a
multi-executor cluster — AQE on, Arrow on, shuffle partitions sized to
cores (overridable by env).

Python workers run ``pyspark_graft_worker`` (the repository root's
``pyspark_graft_worker.py``, set as ``spark.python.worker.module``): it is
``pyspark.worker.main`` unchanged, except that a ``zipimporter`` keeps its
archive's directory table across ``importlib.invalidate_caches()`` while
the archive's ``(st_mtime_ns, st_size)`` stays what it was before the
table was read. Without it every Python task re-parses ``pyspark.zip``
and the py4j zip in its setup (``worker_util.setup_spark_files``), a fixed
cost under every scoring stage, build job and update. The staleness rule
keeps it safe: an archive that changed, a new path and every other finder
are invalidated as before, so a task still sees files shipped to it.

A daemon that cannot import its worker module fails every Python job, so
the option is set only together with ``spark.executorEnv.PYTHONPATH``
naming the module's directory (it must not depend on the caller's cwd),
and only when the module file is there; otherwise Spark's own worker runs.
Cluster sessions that ship the engine with ``--py-files``
(``tools/submit_index_job.py``, ``tools/submit_split_job.py``) must not set
the option: the daemon imports the worker module when it starts, before
``setup_spark_files`` puts the py-files on ``sys.path``, so a module that
lives only in the py-files zip is not importable there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WORKER_MODULE = "pyspark_graft_worker"
# the repository root: the directory holding both the engine package and
# the worker module
WORKER_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_builder(app_name: str = "lucene_solr_spark", cpus: int | None = None) -> SparkSession.Builder:
    """The configured builder behind ``get_spark`` (no JVM is started)."""
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
    if os.path.isfile(os.path.join(WORKER_DIR, WORKER_MODULE + ".py")):
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", WORKER_DIR)
            .config("spark.python.worker.module", WORKER_MODULE)
        )
    return builder


def get_spark(app_name: str = "lucene_solr_spark", cpus: int | None = None) -> SparkSession:
    spark = session_builder(app_name, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
