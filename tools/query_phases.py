"""Where a warm query's time goes: the median wall time of each phase of
``IndexSearcher.search`` (keyed, one query at a time) and of
``compile_many`` + ``search_many`` (the 50-query reference set), replayed
step by step on a built index in one ``session.get_spark`` session.

    python tools/query_phases.py [--index DIR] [--repeats 15] [--cpus 4]

Phases: ``compile`` (binding the query's term stats on the warm searcher,
whose cache has seen every term, so no Spark job), ``compile_cold`` (the
same compile on a newly opened searcher whose collection stats are read
but whose term cache is empty, so every term goes to the one term_stats
lookup job), ``scoring`` (the one scoring stage, collected as Arrow),
``merge`` (``merge_top`` on the driver) and ``handback`` (the page as a
LocalRelation, collected).
``total`` times the public call (``search(...).collect()``, or
``compile_many`` + ``search_many(...).collect()``) on its own. Without
``--index`` it builds a ``datagen`` transcripts index (400
conversations, 4 segments) in a temporary directory and removes it at
the end. Prints one JSON line of medians in ms per workload ("keyed",
"qset").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Phases:
    def __init__(self) -> None:
        self.ms: dict[str, list[float]] = {}

    def timed(self, name: str, run):
        t0 = time.perf_counter()
        out = run()
        self.ms.setdefault(name, []).append(1000.0 * (time.perf_counter() - t0))
        return out

    def medians(self) -> dict[str, float]:
        return {k: round(statistics.median(v), 1) for k, v in self.ms.items()}


def _cold(s):
    """A newly opened searcher on ``s``'s index with its collection stats
    read: its term stats cache is empty."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    fresh = IndexSearcher(s.spark, s.index_dir)
    fresh.stats
    return fresh


def _keyed(ph: _Phases, s, spec, k: int) -> None:
    from lucene_solr_spark.search.searcher import _RANK, _collect, merge_top
    from lucene_solr_spark.util.segscan import local_frame
    from pyspark.sql.types import StructType

    cold = _cold(s)
    ph.timed("compile_cold", lambda: cold.compile(spec, k))
    q = ph.timed("compile", lambda: s.compile(spec, k))
    hits = s.hits(q, with_keys=True)
    t = ph.timed("scoring", lambda: _collect(hits))
    top = ph.timed("merge", lambda: merge_top(t, q.k))
    page = ph.timed("handback", lambda: local_frame(
        s.spark, StructType([*hits.schema.fields, _RANK]), top).collect())
    total = ph.timed("total", lambda: s.search(spec, k=k, with_keys=True).collect())
    assert page == total


def _qset(ph: _Phases, s, specs: dict) -> None:
    from lucene_solr_spark.search.searcher import _MANY_SCHEMA, _collect, merge_top
    from lucene_solr_spark.util.segscan import local_frame

    cold = _cold(s)
    ph.timed("compile_cold", lambda: cold.compile_many(specs))
    compiled = ph.timed("compile", lambda: s.compile_many(specs))
    hits = s.hits_many(compiled, "wand")
    t = ph.timed("scoring", lambda: _collect(hits))
    top = ph.timed("merge", lambda: merge_top(t, {qid: q.k for qid, q in compiled.items()}))
    page = ph.timed("handback", lambda: local_frame(
        s.spark, _MANY_SCHEMA, top.select(_MANY_SCHEMA.names)).collect())
    total = ph.timed(
        "total", lambda: s.search_many(s.compile_many(specs), mode="wand").collect()
    )
    assert page == total


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--index", default=None, help="a built index (default: build one)")
    ap.add_argument("--repeats", type=int, default=15, help="timed rounds")
    ap.add_argument("--cpus", type=int, default=None, help="local[cpus] (get_spark's default)")
    args = ap.parse_args(argv)

    from lucene_solr_spark.datagen import generate_queries, generate_transcripts
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.session import get_spark

    spark = get_spark("query-phases", cpus=args.cpus)
    tmp = None
    index_dir = args.index
    if index_dir is None:
        tmp = tempfile.mkdtemp(prefix="query_phases_")
        index_dir = os.path.join(tmp, "idx")
        docs = spark.createDataFrame(generate_transcripts(400))
        build_index(spark, docs, index_dir, n_segments=4)
    try:
        s = IndexSearcher(spark, index_dir)
        queries = generate_queries()
        specs = {
            f"q{q['query_id']:02d}": (s.parse(q["qtype"], q["terms"], q["min_should"]), q["k"])
            for q in queries
        }
        keyed, qset = _Phases(), _Phases()
        # warm: worker daemon, plans, the searcher's stats and blooms
        for spec, k in specs.values():
            _keyed(_Phases(), s, spec, k)
        _qset(_Phases(), s, specs)
        keyed_specs = list(specs.values())
        for i in range(args.repeats):
            _keyed(keyed, s, *keyed_specs[i % len(keyed_specs)])
            _qset(qset, s, specs)
        print(json.dumps({
            "keyed": keyed.medians(),
            "qset": qset.medians(),
            "repeats": args.repeats,
            "segments": len(s.layout),
            "cpus": spark.sparkContext.defaultParallelism,
        }))
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
