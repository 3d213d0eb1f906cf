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

The driver and its Python workers talk over Unix-domain sockets
(``spark.python.unix.domain.socket.enabled``): the worker sockets of every
Python stage (scoring stages, the build's jobs, updates), the driver's
accumulator server, and collecting to Python. Over loopback TCP each
Python task waited about 41 ms for its first input batch (Linux's 40 ms
delayed-ACK floor, inferred, not traced) while both the executor and the
worker sat blocked; over a Unix socket the same wait is under a
millisecond (``tools/worker_overhead.py``'s ``first_batch_wait_ms``).
There is no TCP switch: every local session takes this path.

The socket directory (``spark.python.unix.domain.socket.dir``) is set too,
to a private (0700) directory that ``tempfile.mkdtemp`` makes once per
driver process and that is removed when the process exits. Spark refuses a
directory longer than 61 characters (``SOCKET_DIR_MAX``: a socket is the
directory plus ``/.<uuid4>.sock``, and an AF_UNIX path ends at 107 bytes),
so the directory goes under the process's temp dir when that is short
enough, else under ``/tmp``. Left unset it would be ``java.io.tmpdir``,
which a caller may put anywhere: under a 100-character ``java.io.tmpdir``
the SparkContext does not start (the accumulator server raises
``OSError: AF_UNIX path too long``). The cluster tools keep TCP and set
neither option: their Python workers run on executor hosts, where a
directory made by the driver process does not exist.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

WORKER_MODULE = "pyspark_graft_worker"
# the repository root: the directory holding both the engine package and
# the worker module
WORKER_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the longest spark.python.unix.domain.socket.dir Spark accepts
SOCKET_DIR_MAX = 61
_SOCKET_DIR_PREFIX = "spark-uds-"


@functools.cache
def _socket_dir() -> str:
    """This process's private (0700) directory for Spark's Unix-domain
    sockets: made on first use, removed when the process exits."""
    base = tempfile.gettempdir()
    # mkdtemp appends 8 random characters to the prefix
    if len(os.path.join(base, _SOCKET_DIR_PREFIX)) + 8 > SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
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
