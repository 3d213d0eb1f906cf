"""Regression guard for VERDICT r1 'What's wrong' #3/#7: no query-path
module may read a whole table onto the driver. Full-table
``pyarrow.parquet.read_table``/``to_pandas`` belongs ONLY in build-side
kernels (which run inside executors on their own partition's files) and
explicitly-scoped tools. Single-row lookups must go through pruned Spark
reads (predicate pushdown). The per-segment scoring task module reads its
segment's files with pyarrow INSIDE executors; those lines carry an
``# executor-read`` marker, accepted in that module only, and a runtime test
pins that a search makes no pyarrow read in the driver process."""

import os
import re

import pyarrow.dataset
import pyarrow.parquet

SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lucene_solr_spark")

# modules on the query path: compiling or executing a search/op must never
# materialize an input table driver-side
QUERY_PATH_MODULES = [
    "engine.py",
    "driver_queries.py",
    "search/searcher.py",
    "search/query.py",
    "search/kernels.py",
    "search/segtask.py",
    "util/segscan.py",
    "ops/ann.py",
    "ops/dedup.py",
    "ops/facets.py",
    "ops/streams.py",
    "ops/textmetrics.py",
    "ops/graph.py",
]

FORBIDDEN = re.compile(r"pq\.read_table|pyarrow\.parquet|read_table\(")
# the one module whose reads run inside executors, on one segment's files
EXECUTOR_READ_MODULE = "search/segtask.py"


def test_query_paths_have_no_driver_side_table_reads():
    offenders = []
    for rel in QUERY_PATH_MODULES:
        path = os.path.join(SRC, rel)
        with open(path) as f:
            for ln, line in enumerate(f, 1):
                marked = "# executor-read" in line
                if marked and rel != EXECUTOR_READ_MODULE:
                    offenders.append(f"{rel}:{ln}: executor-read marker outside "
                                     f"{EXECUTOR_READ_MODULE}")
                elif (FORBIDDEN.search(line) and not marked
                      and "# driver-read-ok" not in line):
                    offenders.append(f"{rel}:{ln}: {line.strip()}")
    assert not offenders, (
        "driver-side table reads in query-path modules (use a pruned "
        "spark.read.parquet(...).filter(...) instead):\n" + "\n".join(offenders)
    )


def test_toPandas_only_on_bounded_results():
    """``.toPandas()``/``.collect()`` in query-path modules must be preceded
    by a bound (limit/top-k/aggregate) — heuristic: the searcher/engine
    modules may not call .toPandas() at all (they return DataFrames; the
    caller collects)."""
    for rel in ("engine.py", "search/searcher.py"):
        with open(os.path.join(SRC, rel)) as f:
            src = f.read()
        assert ".toPandas()" not in src, f"{rel} collects results driver-side"


def test_search_paths_read_no_files_in_the_driver(spark, small_index, monkeypatch):
    """search / search_many / hits / total_hits open segment files only in
    the executors' Python workers — separate processes, so a patch in this
    (driver) process sees every driver-side read and none of the tasks'."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    index_dir, _ = small_index
    s = IndexSearcher(spark, index_dir)
    assert s._bloom_driver is not None  # the size-gated sidecar load, up front
    calls = []

    def spy(real):
        def wrapped(*a, **kw):
            calls.append(a[:1])
            return real(*a, **kw)
        return wrapped

    monkeypatch.setattr(pyarrow.parquet, "read_table", spy(pyarrow.parquet.read_table))
    monkeypatch.setattr(pyarrow.dataset, "dataset", spy(pyarrow.dataset.dataset))
    spec = s.parse("or3", ["merge", "batch", "stream"])
    q = s.compile(spec, k=10)
    assert s.search(q, with_keys=True).collect()
    assert s.hits(q).collect()
    assert s.total_hits(spec)[0] > 0
    many = s.compile_many({"a": (spec, 5), "b": (s.parse("and2", ["merge", "batch"]), 5)})
    assert s.search_many(many).collect()
    assert calls == []
