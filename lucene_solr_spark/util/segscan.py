"""One Python stage over a list of segments — the task shape shared by the
build's invert (``index/build.py``) and every scored search
(``search/segtask.py``).

The segments are dealt round-robin to ``n = min(len(segs),
defaultParallelism)`` tasks of a ``spark.range(n, numPartitions=n)
.mapInArrow`` job, so every core gets work in one wave and the
engine↔Python boundary is paid once per task, not once per segment. No
range partitioner samples the input and no shuffle feeds the tasks: each
task opens its own segments' files.

``local_frame`` builds the driver-side frames that stand in for a stage:
an empty result, or a page built on the driver. A frame built from a
Python list (``spark.createDataFrame([], schema)``) is a ``LogicalRDD``,
and collecting it launches a job of defaultParallelism tasks even for no
rows; a frame built from an Arrow table is a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``), and collecting it,
or a projection of it, launches no job.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession,
    schema: StructType | str,
    rows: pa.Table | Iterable[tuple] | None = None,
) -> DataFrame:
    """``rows`` (default: none) as a LocalRelation of ``schema`` (a
    StructType or a DDL string): an Arrow table whose columns are in
    ``schema``'s order, or Python row tuples in that order."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        rows = pa.Table.from_pylist(
            [dict(zip(arrow_schema.names, r)) for r in rows or ()], schema=arrow_schema
        )
    return spark.createDataFrame(rows, schema)


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
        return local_frame(spark, schema)
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
