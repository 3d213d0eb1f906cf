"""expungeDeletes (``IndexWriter#forceMergeDeletes`` / Solr
``<commit expungeDeletes=true>``): physical reclaim of tombstoned docs.

Core invariant: local-id compaction is monotone and bases are re-derived in
the same segment order, so RANKED results (keys, f32 scores AND docID
tiebreaks) after expunge are identical to the tombstone-path answers before
it — deletes move from query-time filtering to the on-disk layout with zero
observable change. Fully-deleted segments are dropped; retained commit
points gate the rewrite.
"""

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.datagen import generate_queries, generate_transcripts
from lucene_solr_spark.index.build import append_batch, build_index
from lucene_solr_spark.index.check import check_index
from lucene_solr_spark.index.commits import commit_point, list_commits
from lucene_solr_spark.index.updates import (
    delete_docs,
    expunge_deletes,
    tombstone_files,
)
from lucene_solr_spark.search.searcher import IndexSearcher
from test_segment_task import _job_counts


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts(80)


def _ranked(spark, index_dir, k=20, n_queries=10):
    """Ranked top-k INCLUDING the docID tiebreak — the strict form: expunge
    must not perturb even tie order."""
    s = IndexSearcher(spark, index_dir)
    qs = generate_queries()[:n_queries]
    compiled = s.compile_many({
        f"q{q['query_id']:02d}": (s.parse(q["qtype"], q["terms"], q["min_should"]), k)
        for q in qs
    })
    out = s.search_many(compiled, mode="wand")
    return (
        out.join(s.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .toPandas()[["query_id", "rank", "conv_id", "turn_idx", "score"]]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_expunge_preserves_ranked_results_bitwise(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=4)

    victims = corpus[["conv_id", "turn_idx"]].iloc[7:140:3]
    n = delete_docs(spark, idx, spark.createDataFrame(victims))
    assert n == len(victims)

    before = _ranked(spark, idx)
    report = expunge_deletes(spark, idx)
    assert report["expunged_docs"] == n
    assert report["rewritten_segs"] and not report["dropped_segs"]

    after = _ranked(spark, idx)
    pd.testing.assert_frame_equal(after, before, check_exact=True)

    assert tombstone_files(idx) == ()
    live = spark.read.parquet(os.path.join(idx, "docs")).count()
    assert live == len(corpus) - n
    # the index is structurally clean after the rewrite
    rep = check_index(spark, idx).toPandas()
    assert rep["violations"].map(len).sum() == 0


def test_expunge_drops_fully_deleted_segment(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=4)

    # global docIDs of seg 0 are [0, n0) — bases are the cumsum over segs
    import pyarrow.parquet as pq
    import glob as g

    s = IndexSearcher(spark, idx)
    n0 = sum(
        pq.read_table(p).column("n")[0].as_py()
        for p in g.glob(os.path.join(idx, "seg_norms", "seg=0", "*.parquet"))
    )
    keys0 = (
        s.docs.filter(s.docs.doc_id < n0)
        .select("conv_id", "turn_idx")
        .toPandas()
    )
    delete_docs(spark, idx, spark.createDataFrame(keys0))

    before = _ranked(spark, idx)
    report = expunge_deletes(spark, idx)
    assert report["dropped_segs"] == [0]
    after = _ranked(spark, idx)
    pd.testing.assert_frame_equal(after, before, check_exact=True)
    assert not os.path.exists(os.path.join(idx, "manifest", "seg=0.parquet"))
    assert not os.path.isdir(os.path.join(idx, "postings", "seg=0"))


def test_expunge_guards_retained_commits(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=2)
    delete_docs(spark, idx, spark.createDataFrame(corpus[["conv_id", "turn_idx"]].head(5)))
    commit_point(idx)
    with pytest.raises(ValueError, match="retained commit"):
        expunge_deletes(spark, idx)
    report = expunge_deletes(spark, idx, drop_commits=True)
    assert report["expunged_docs"] == 5
    assert list_commits(idx) == []


def test_append_after_expunge(spark, corpus, tmp_path):
    """The expunged index stays a first-class writer target: append_batch
    re-derives bases over the compacted manifest and search sees the new
    docs."""
    idx = str(tmp_path / "idx")
    head, tail = corpus.iloc[:-50], corpus.iloc[-50:]
    build_index(spark, spark.createDataFrame(head), idx, n_segments=3)
    delete_docs(spark, idx, spark.createDataFrame(head[["conv_id", "turn_idx"]].iloc[5:25]))
    expunge_deletes(spark, idx)
    append_batch(spark, spark.createDataFrame(tail), idx, n_segments=1)

    live = spark.read.parquet(os.path.join(idx, "docs")).count()
    assert live == len(head) - 20 + len(tail)
    rep = check_index(spark, idx).toPandas()
    assert rep["violations"].map(len).sum() == 0
    assert len(_ranked(spark, idx))


def _keyword_index_with_deletes(spark, corpus, idx):
    """A 4-segment index with a ``role`` keyword field and deletes spread
    over every segment; returns the deleted keys."""
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=4,
                keyword_cols=("role",))
    victims = corpus[["conv_id", "turn_idx"]].iloc[7::9]
    assert delete_docs(spark, idx, spark.createDataFrame(victims)) == len(victims)
    return victims


def _seg_table(idx, root, seg):
    return pa.concat_tables([
        pq.read_table(p)
        for p in sorted(glob.glob(os.path.join(idx, root, f"seg={seg}", "*.parquet")))
    ])


def test_expunged_segment_equals_fresh_build_of_its_live_rows(spark, corpus, tmp_path):
    """A rewritten segment is the segment a fresh build of its live rows
    writes: the same postings, docs, bloom and norms table contents, and the
    same lineage (counts and content hash) in its manifest marker."""
    idx = str(tmp_path / "idx")
    victims = _keyword_index_with_deletes(spark, corpus, idx)
    keys = ["conv_id", "turn_idx"]
    seg_keys = {
        seg: _seg_table(idx, "docs", seg).select(keys).to_pandas()
        for seg in range(4)
    }
    report = expunge_deletes(spark, idx)
    seg = report["rewritten_segs"][1]
    live = seg_keys[seg].merge(victims, on=keys, how="left", indicator=True)
    live = live[live["_merge"] == "left_only"][keys]
    rows = corpus.merge(live, on=keys)
    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(rows), fresh, n_segments=1,
                keyword_cols=("role",))

    for root in ("postings", "docs", "seg_norms", "bloom"):
        assert _seg_table(idx, root, seg).equals(_seg_table(fresh, root, 0)), root
    got = pq.read_table(os.path.join(idx, "manifest", f"seg={seg}.parquet")).to_pylist()[0]
    want = pq.read_table(os.path.join(fresh, "manifest", "seg=0.parquet")).to_pylist()[0]
    lineage = ("n_docs", "doc_count", "n_terms", "n_postings", "sum_len", "content_hash")
    assert {c: got[c] for c in lineage} == {c: want[c] for c in lineage}
    assert got["status"] == "expunged"
    rep = check_index(spark, idx).toPandas()
    assert rep["violations"].map(len).sum() == 0


def test_expunge_runs_one_rewrite_stage(spark, corpus, tmp_path):
    """Expunge is ONE dealt rewrite stage, whose tasks read their own
    segment's tombstones, and the stats refresh — no tombstone load and no
    shuffle-and-write jobs per index table."""
    idx = str(tmp_path / "idx")
    _keyword_index_with_deletes(spark, corpus, idx)
    sc = spark.sparkContext
    sc.setJobGroup("expunge", "expunge_deletes")
    try:
        report = expunge_deletes(spark, idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report["rewritten_segs"]
    jobs, _, _ = _job_counts(sc, "expunge")
    assert jobs <= 9, jobs
