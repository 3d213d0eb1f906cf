"""Fixed cost of one Python task: the median wall time of warm 1-task
identity ``mapInArrow`` jobs against the same 1-task job with no Python
stage, both in one ``session.get_spark`` session.

    python tools/worker_overhead.py [--jobs 10] [--cpus 4]

Prints one JSON line: ``python_job_ms`` and ``jvm_job_ms`` (medians),
their difference ``python_task_ms``, ``first_batch_wait_ms`` (the median
time, inside the task function, from its entry to its first input batch:
the task waiting on the JVM), the job count, the session's
``spark.python.worker.module`` and the socket the workers talk over
(``"unix"`` or ``"tcp"``). To compare two versions of the engine, run it
in each checkout; it has no switch of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _identity(batches):
    yield from batches


def _first_batch_wait(batches):
    t0 = time.perf_counter()
    first = next(batches)
    waited = 1000.0 * (time.perf_counter() - t0)
    for _ in batches:
        pass
    assert first.num_rows == 1
    yield pa.RecordBatch.from_pydict({"wait_ms": [waited]})


def _median_ms(run, n: int) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(times)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=10, help="timed jobs per kind")
    ap.add_argument("--cpus", type=int, default=None, help="local[cpus] (get_spark's default)")
    args = ap.parse_args(argv)

    from lucene_solr_spark.session import get_spark

    spark = get_spark("worker-overhead", cpus=args.cpus)
    one = spark.range(0, 1, numPartitions=1)
    python_job = one.mapInArrow(_identity, "id long")
    wait_job = one.mapInArrow(_first_batch_wait, "wait_ms double")

    def run_python():
        assert python_job.collect()[0].id == 0

    def run_jvm():
        assert one.collect()[0].id == 0

    # warm: start the worker daemon and a worker, compile both plans
    for _ in range(3):
        run_python()
        run_jvm()
    py_ms = _median_ms(run_python, args.jobs)
    jvm_ms = _median_ms(run_jvm, args.jobs)
    wait_ms = statistics.median(wait_job.collect()[0].wait_ms for _ in range(args.jobs))
    unix = spark.conf.get("spark.python.unix.domain.socket.enabled", "false") == "true"
    print(json.dumps({
        "python_job_ms": round(py_ms, 1),
        "jvm_job_ms": round(jvm_ms, 1),
        "python_task_ms": round(py_ms - jvm_ms, 1),
        "first_batch_wait_ms": round(wait_ms, 2),
        "jobs": args.jobs,
        "worker_module": spark.conf.get("spark.python.worker.module", None),
        "socket": "unix" if unix else "tcp",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
