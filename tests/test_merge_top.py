"""The driver-side merge of per-segment top-k (``searcher.merge_top``):
``search`` and ``search_many`` return exactly the rows and the schema of
the Spark-side shapes they replace — ``ranked_top`` (global TakeOrdered,
then rank) over ``hits``, and a per-query ``row_number`` Window cut by a
broadcast k table — on a multi-segment index, including ties across
segments, FILTER-only 0.0 scores, searchAfter cursors, k above the match
count, per-query k, key columns and empty results."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import Window, functions as F

from lucene_solr_spark.search.query import BooleanSpec, TermClause
from lucene_solr_spark.search.searcher import IndexSearcher, merge_top, ranked_top

DUP = "zzqtiedup"      # one identical turn text in every DUP conversation
N_DUP = 12


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    from lucene_solr_spark.datagen import generate_transcripts
    from lucene_solr_spark.index.build import build_index

    pdf = generate_transcripts(80)
    convs = pdf.conv_id.unique()
    # each copy's key sorts next to a different source conversation, so
    # the copies spread over the key-ranged segments
    dups = pd.concat([pdf.iloc[:1]] * N_DUP, ignore_index=True).assign(
        conv_id=[f"{convs[i * len(convs) // N_DUP]}-dup" for i in range(N_DUP)],
        turn_idx=np.int32(0),
        text=f"{DUP} merge batch",
    )
    index_dir = str(tmp_path_factory.mktemp("mergetop") / "idx")
    build_index(
        spark, spark.createDataFrame(pd.concat([pdf, dups], ignore_index=True)),
        index_dir, n_segments=4,
    )
    return IndexSearcher(spark, index_dir)


def _dup(s):
    return BooleanSpec(should=[TermClause(s.analyzer.analyze(DUP)[0][0])])


def _filter_only(s):
    """Every turn with the term, each scoring exactly 0.0."""
    return BooleanSpec(filter=[TermClause(s.analyzer.analyze("merge")[0][0])])


def _absent(s):
    return s.parse("or3", ["qqzabsent", "qqzmissing", "qqznowhere"])


def _ranked_top_ref(s, q, mode, after, with_keys):
    return ranked_top(
        s.hits(q, mode=mode, after=after, with_keys=with_keys),
        q.k, F.desc("score"), F.asc("doc_id"),
    )


def _window_ref(spark, s, compiled, mode):
    k_df = spark.createDataFrame(
        [(qid, q.k) for qid, q in compiled.items()], "query_id string, k int"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        s.hits_many(compiled, mode).withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(k_df), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def _same(got, want):
    assert got.schema == want.schema
    rows = got.collect()
    assert rows == want.collect()
    return rows


def test_ties_span_segments(searcher):
    """The DUP turns score equally and live in more than one segment, so
    the doc_id tiebreak decides across segments."""
    q = searcher.compile(_dup(searcher), k=N_DUP)
    rows = searcher.hits(q).collect()
    assert len(rows) == N_DUP and len({r.score for r in rows}) == 1
    segs = {
        seg for r in rows for seg, (base, n) in searcher.layout.items()
        if base <= r.doc_id < base + n
    }
    assert len(segs) > 1


@pytest.mark.parametrize("mode", ["wand", "exact"])
@pytest.mark.parametrize("with_keys", [False, True])
@pytest.mark.parametrize("case,k", [
    ("or3", 10),
    ("dup", 5),         # the cut falls inside a cross-segment tie
    ("dup", 200),       # k above the match count
    ("filter", 7),      # every score 0.0: the order is doc_id alone
    ("absent", 10),     # no clause survives compile: an empty page
    ("nomatch", 10),    # a scoring stage that finds nothing
])
def test_search_matches_ranked_top_over_hits(searcher, case, k, with_keys, mode):
    s = searcher
    spec = {
        "or3": lambda: s.parse("or3", ["merge", "batch", "stream"]),
        "dup": lambda: _dup(s),
        "filter": lambda: _filter_only(s),
        "absent": lambda: _absent(s),
        "nomatch": lambda: BooleanSpec(must=[
            *_dup(s).should, TermClause(s.analyzer.analyze("stream")[0][0]),
        ]),
    }[case]()
    q = s.compile(spec, k=k)
    rows = _same(
        s.search(q, mode=mode, with_keys=with_keys),
        _ranked_top_ref(s, q, mode, None, with_keys),
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    if case in ("absent", "nomatch"):
        assert rows == [] and (case == "absent") == (not q.clauses)
    if case == "filter":
        assert rows and {r.score for r in rows} == {0.0}
    if case == "dup" and k > N_DUP:
        assert len(rows) == N_DUP


@pytest.mark.parametrize("case", ["or3", "dup", "filter"])
def test_search_after_matches_ranked_top_over_hits(searcher, case):
    """A searchAfter page from a cursor inside the ranking, with keys."""
    s = searcher
    spec = {
        "or3": lambda: s.parse("or3", ["merge", "batch", "stream"]),
        "dup": lambda: _dup(s),
        "filter": lambda: _filter_only(s),
    }[case]()
    q = s.compile(spec, k=4)
    page1 = s.search(q).collect()
    assert len(page1) == 4
    after = (page1[-1].score, page1[-1].doc_id)
    rows = _same(
        s.search(q, with_keys=True, after=after),
        _ranked_top_ref(s, q, "wand", after, True),
    )
    assert rows and rows[0].doc_id not in {r.doc_id for r in page1}


@pytest.mark.parametrize("mode", ["wand", "exact"])
def test_search_many_matches_window_reference(spark, searcher, mode):
    """Per-query k (above and below each query's match count) and queries
    with no match in one set."""
    s = searcher
    compiled = s.compile_many({
        "a": (s.parse("or3", ["merge", "batch", "stream"]), 3),
        "b": (_dup(s), 5),
        "c": (_filter_only(s), 6),
        "d": (_absent(s), 5),
        "e": (s.parse("and2", ["merge", "batch"]), 500),
        "f": (_dup(s), 100),
    })
    rows = _same(s.search_many(compiled, mode=mode), _window_ref(spark, s, compiled, mode))
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert sorted(per_q) == ["a", "b", "c", "e", "f"]
    assert [len(per_q[x]) for x in "abcf"] == [3, 5, 6, N_DUP]


def test_search_many_empty_set_matches_window_reference(spark, searcher):
    s = searcher
    compiled = s.compile_many({"x": (_absent(s), 5), "y": (_absent(s), 2)})
    assert _same(s.search_many(compiled), _window_ref(spark, s, compiled, "wand")) == []


def test_merge_top_cuts_and_ranks_per_query():
    t = pa.table({
        "query_id": ["b", "a", "b", "a", "b", "a"],
        "doc_id": pa.array([7, 3, 1, 9, 4, 2], pa.int64()),
        "score": pa.array([1.0, 2.0, 3.0, 2.0, 1.0, 0.0], pa.float32()),
    })
    got = merge_top(t, {"a": 2, "b": 5}).to_pylist()
    assert got == [
        {"query_id": "a", "doc_id": 3, "score": 2.0, "rank": 1},
        {"query_id": "a", "doc_id": 9, "score": 2.0, "rank": 2},
        {"query_id": "b", "doc_id": 1, "score": 3.0, "rank": 1},
        {"query_id": "b", "doc_id": 4, "score": 1.0, "rank": 2},
        {"query_id": "b", "doc_id": 7, "score": 1.0, "rank": 3},
    ]
    assert merge_top(t.drop_columns(["query_id"]), 2).column("doc_id").to_pylist() == [1, 3]
    empty = merge_top(t.slice(0, 0), {"a": 1})
    assert empty.num_rows == 0 and empty.schema.field("rank").type == pa.int32()
