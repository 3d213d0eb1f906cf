"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship path — full Lucene-chain (lower/stop/porter)
inverted-index build + block-max WAND BM25 top-k — on sf0.001.
``queries``/``oracle_sql`` expose every implemented operator with a DuckDB
cross-check: one ``register(name, fn, oracle)`` call per entry in the
``ops/registry`` — the full-text entries in
lucene_solr_spark/driver_queries.py, the others in ops/*.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Porter-chain index build over sf0.001 documents, then a
    disjunctive BM25 top-10 with block-max WAND; returns (rank, doc_id,
    score) joined back to the source keys (fetch-fields-late)."""
    from lucene_solr_spark.engine import get_engine

    eng = get_engine(spark, "/root/testdata/sf0.001", analyzer="lucene")
    return eng.topk("or3", ["merge", "batch", "stream"], k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from lucene_solr_spark.driver_queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from lucene_solr_spark.driver_queries import all_oracles

    return all_oracles()
