"""One Python stage over a list of segments — the task shape shared by the
build's invert (``index/build.py``) and every scored search
(``search/segtask.py``).

The segments are dealt round-robin to ``n = min(len(segs),
defaultParallelism)`` tasks of a ``spark.range(n, numPartitions=n)
.mapInArrow`` job, so every core gets work in one wave and the
engine↔Python boundary is paid once per task, not once per segment. No
range partitioner samples the input and no shuffle feeds the tasks: each
task opens its own segments' files.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def segment_scan(
    spark: SparkSession,
    segs: list[int],
    score: Callable[[int], pa.Table | None],
    schema: StructType,
) -> DataFrame:
    """One mapInArrow stage over ``segs``: task i runs ``score(seg)`` for
    every i-th segment (round-robin over ``n = min(len(segs),
    defaultParallelism)`` tasks, so every core gets work in one wave) and
    emits the returned tables. No segments ⇒ an empty local relation."""
    n = min(len(segs), spark.sparkContext.defaultParallelism)
    if n == 0:
        return spark.createDataFrame([], schema)
    groups = [segs[i::n] for i in range(n)]
    arrow_schema = to_arrow_schema(schema)

    def task(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                for seg in groups[i]:
                    out = score(seg)
                    if out is not None and out.num_rows:
                        yield from out.cast(arrow_schema).to_batches()

    return spark.range(n, numPartitions=n).mapInArrow(task, schema)
