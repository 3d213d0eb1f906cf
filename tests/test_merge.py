"""Merge invariance (SURVEY.md §5.2-7): an index merged K→M segments —
including salted sub-ranges whose block lists stack mid-list — must return
IDENTICAL query results (docIDs and float32 scores) on the full reference
query set, for both the exact and the block-max-WAND scorers.

Reference analog: ``SegmentMerger`` output must be CheckIndex-clean and
search-equivalent; ``TestWANDScorer``-style pruning-never-changes-results.
"""

import glob
import os
import shutil
import warnings

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.datagen import generate_queries, generate_transcripts
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.search.searcher import IndexSearcher
from test_segment_task import _job_counts


@pytest.fixture(scope="module")
def merged_dirs(spark, small_index, tmp_path_factory):
    src, _ = small_index
    d2 = str(tmp_path_factory.mktemp("merge") / "m2")
    d1 = str(tmp_path_factory.mktemp("merge") / "m1")
    merge_segments(spark, src, d2, n_out=2, salt=2)
    merge_segments(spark, src, d1, n_out=1, salt=4)
    return src, d2, d1


def _run_all(spark, index_dir, mode):
    s = IndexSearcher(spark, index_dir)
    qs = generate_queries()
    compiled = s.compile_many({
        f"q{q['query_id']:02d}": (s.parse(q["qtype"], q["terms"], q["min_should"]), q["k"])
        for q in qs
    })
    return (
        s.search_many(compiled, mode=mode)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mode", ["wand", "exact"])
def test_merge_invariance_query_results(spark, merged_dirs, mode):
    src, d2, d1 = merged_dirs
    base = _run_all(spark, src, mode)
    for d in (d2, d1):
        got = _run_all(spark, d, mode)
        assert len(got) == len(base)
        np.testing.assert_array_equal(got.query_id.to_numpy(), base.query_id.to_numpy())
        np.testing.assert_array_equal(got.doc_id.to_numpy(), base.doc_id.to_numpy())
        np.testing.assert_array_equal(
            got.score.to_numpy().astype(np.float32),
            base.score.to_numpy().astype(np.float32),
        )


def test_merge_preserves_global_stats(spark, merged_dirs):
    import os
    src, d2, _ = merged_dirs
    for tbl in ("stats", "term_stats"):
        a = spark.read.parquet(os.path.join(src, tbl)).toPandas()
        b = spark.read.parquet(os.path.join(d2, tbl)).toPandas()
        a = a.sort_values(list(a.columns)).reset_index(drop=True)
        b = b.sort_values(list(b.columns)).reset_index(drop=True)
        assert a.equals(b)


def test_merged_postings_df_consistency(spark, merged_dirs):
    """CheckIndex-style invariant: per-term df summed over merged segments
    equals the global term_stats df; blocks are docID-sorted with n<=128."""
    import os
    from pyspark.sql import functions as F

    src, d2, _ = merged_dirs
    posts = spark.read.parquet(os.path.join(d2, "postings"))
    got = posts.groupBy("term").agg(F.sum("df_part").alias("df")).toPandas()
    want = spark.read.parquet(os.path.join(src, "term_stats")).select("term", "df").toPandas()
    g = got.sort_values("term").reset_index(drop=True)
    w = want.sort_values("term").reset_index(drop=True)
    assert g.term.tolist() == w.term.tolist()
    np.testing.assert_array_equal(g.df.to_numpy(), w.df.to_numpy())

    sample = posts.limit(200).toPandas()
    for _, row in sample.iterrows():
        last = -1
        for blk in row.blocks:
            b = blk if isinstance(blk, dict) else blk.asDict()
            assert b["n"] <= 128
            assert b["first_doc"] > last, "blocks must be disjoint ascending"
            assert b["first_doc"] <= b["last_doc"]
            last = b["last_doc"]


# --- TieredMergePolicy (find_merges + plan-driven merge) --------------------

def test_find_merges_tier_selection():
    """Undersized runs fold at segs_per_tier; oversized segments pass
    through as singletons; budget overflow splits a run."""
    from lucene_solr_spark.index.merge import find_merges

    # ceiling = 100 // 4 = 25: segs of 10 are undersized, 40 is oversized
    sizes = [(0, 10), (1, 10), (2, 10), (3, 10), (4, 10), (5, 40), (6, 10), (7, 10)]
    plan = find_merges(sizes, segs_per_tier=4, max_merged_docs=100)
    assert plan == [[0, 1, 2, 3], [4], [5], [6, 7]]
    # under one tier ceiling the whole run folds
    plan = find_merges([(0, 30), (1, 30), (2, 30)], segs_per_tier=4, max_merged_docs=400)
    assert plan == [[0, 1, 2]]
    # budget overflow: with the floor knob explicit (segments undersized at
    # 30 < 40), 30+30+30 > 70 splits the run even below segs_per_tier
    plan = find_merges(
        [(0, 30), (1, 30), (2, 30)],
        segs_per_tier=10, max_merged_docs=70, floor_docs=40,
    )
    assert plan == [[0, 1], [2]]


def test_plan_must_be_contiguous_partition(spark, small_index, tmp_path_factory):
    src, _ = small_index  # 4 segments
    dst = str(tmp_path_factory.mktemp("merge") / "reject")
    with pytest.raises(ValueError, match="not base-contiguous"):
        merge_segments(spark, src, dst, plan=[[0, 2], [1], [3]])
    with pytest.raises(ValueError, match="partition the source"):
        merge_segments(spark, src, dst, plan=[[0, 1]])


def test_tiered_merge_invariance(spark):
    """One policy round folds segments and leaves every page bitwise
    unchanged; the merged layout is CheckIndex-clean."""
    import pandas as pd

    from lucene_solr_spark.engine import get_engine, tiered_merge_topk, get_tiered_searcher
    from lucene_solr_spark.index.check import check_index

    SF = "/root/testdata/sf0.001"
    base = get_engine(spark, SF, "simple").topk("or3", ["vector", "stream", "filter"], k=10).toPandas()
    tiered = tiered_merge_topk(spark, SF, "or3", ["vector", "stream", "filter"], k=10).toPandas()
    pd.testing.assert_frame_equal(tiered, base)
    searcher = get_tiered_searcher(spark, SF)
    n_base = len(get_engine(spark, SF, "simple").searcher.layout)
    n_tiered = len(searcher.layout)
    assert n_tiered < n_base
    rep = check_index(spark, searcher.index_dir).toPandas()
    assert (rep["n_violations"] == 0).all(), rep


def test_merge_meta_carries_keyword_cols(spark, small_corpus, tmp_path_factory):
    """A merged index's meta must keep keyword_cols — append-after-merge
    otherwise silently stops inverting keyword fields into new segments —
    and the reversed-dictionary sidecar must survive the copy-through."""
    import os

    from lucene_solr_spark.index.build import IndexMeta, build_index
    from lucene_solr_spark.index.merge import merge_segments

    src = str(tmp_path_factory.mktemp("kwmerge") / "src")
    sdf = spark.createDataFrame(small_corpus)
    build_index(spark, sdf, src, n_segments=4, keyword_cols=("role",))
    dst = str(tmp_path_factory.mktemp("kwmerge") / "dst")
    merge_segments(spark, src, dst, n_out=2, salt=2)
    assert IndexMeta.load(dst).keyword_cols == ("role",)
    assert os.path.isdir(os.path.join(dst, "term_stats_rev"))


def test_tiered_mixed_copy_and_merge(spark, small_index, tmp_path_factory):
    """A policy round over UNEVEN segments: oversized segments pass through
    by FILE COPY (byte-identical postings — only merged bytes are ever
    read), undersized ones fold through the subset merge; query results
    are bitwise invariant and the layout CheckIndex-clean."""
    import filecmp
    import os

    import numpy as np

    from lucene_solr_spark.datagen import generate_transcripts
    from lucene_solr_spark.index.build import append_batch
    from lucene_solr_spark.index.check import check_index
    from lucene_solr_spark.index.merge import tiered_merge

    src0, _ = small_index
    # private copy: append mutates the index in place
    import shutil

    src = str(tmp_path_factory.mktemp("tiered") / "src")
    shutil.copytree(src0, src)
    extra = generate_transcripts(10, seed=7)
    append_batch(spark, spark.createDataFrame(extra), src, n_segments=2)

    dst = str(tmp_path_factory.mktemp("tiered") / "dst")
    # ceiling 50: the four ~375-doc build segments are oversized
    # (singletons → file copy); the two small appended segments merge
    plan = tiered_merge(spark, src, dst, segs_per_tier=2, max_merged_docs=100)
    singles = [g[0] for g in plan if len(g) == 1]
    merged = [g for g in plan if len(g) > 1]
    assert singles and merged, plan

    # copied segments are byte-identical (no re-encode)
    for seg in singles:
        a = os.path.join(src, "postings", f"seg={seg}")
        b = os.path.join(dst, "postings", f"seg={seg}")
        cmp = filecmp.dircmp(a, b)
        assert not cmp.diff_files and not cmp.left_only and not cmp.right_only

    # bitwise search invariance across the whole reference query set
    base = _run_all(spark, src, "wand")
    got = _run_all(spark, dst, "wand")
    assert len(got) == len(base)
    np.testing.assert_array_equal(got.doc_id.to_numpy(), base.doc_id.to_numpy())
    np.testing.assert_array_equal(got.score.to_numpy(), base.score.to_numpy())

    rep = check_index(spark, dst).toPandas()
    assert (rep["n_violations"] == 0).all(), rep


def test_tiered_noop_round_is_file_copy(spark, small_index, tmp_path_factory):
    """When the policy selects nothing (every segment oversized), the round
    must be a byte-identical copy — zero Spark work, zero rewrites."""
    import filecmp
    import os

    from lucene_solr_spark.index.merge import tiered_merge

    src, _ = small_index
    dst = str(tmp_path_factory.mktemp("tiered") / "noop")
    plan = tiered_merge(spark, src, dst, segs_per_tier=2, max_merged_docs=4)
    assert all(len(g) == 1 for g in plan)
    cmp = filecmp.dircmp(os.path.join(src, "postings"), os.path.join(dst, "postings"))
    assert not cmp.diff_files and not cmp.left_only and not cmp.right_only


# --- merge through the one segment writer -----------------------------------

def _seg_table(index_dir, root, seg):
    seg_dir = os.path.join(index_dir, root, f"seg={seg}")
    return pa.concat_tables(
        [pq.read_table(p) for p in sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))]
    )


def _marker(index_dir, seg):
    return pq.read_table(os.path.join(index_dir, "manifest", f"seg={seg}.parquet")).to_pylist()[0]


def test_merged_segment_equals_fresh_build_of_its_rows(spark, tmp_path):
    """An unsalted merge of every segment writes the segment a fresh
    one-segment build of the same rows writes: the same postings, docs,
    bloom and norms table contents and the same lineage in its marker."""
    corpus = generate_transcripts(80)
    src, dst, fresh = (str(tmp_path / n) for n in ("src", "dst", "fresh"))
    build_index(spark, spark.createDataFrame(corpus), src, n_segments=4,
                keyword_cols=("role",))
    merge_segments(spark, src, dst, n_out=1, salt=1)
    build_index(spark, spark.createDataFrame(corpus), fresh, n_segments=1,
                keyword_cols=("role",))

    for root in ("postings", "docs", "seg_norms", "bloom"):
        assert _seg_table(dst, root, 0).equals(_seg_table(fresh, root, 0)), root
    got, want = _marker(dst, 0), _marker(fresh, 0)
    lineage = ("n_docs", "doc_count", "n_terms", "n_postings", "sum_len", "content_hash")
    assert {c: got[c] for c in lineage} == {c: want[c] for c in lineage}
    assert got["status"] == "merged"


def test_merge_runs_two_dealt_stages(spark, small_index, tmp_path):
    """A tombstone-free salted merge is the two dealt stages plus the
    shared commit tail — no per-term shuffle — and logs no UserWarning."""
    src, _ = small_index
    sc = spark.sparkContext
    sc.setJobGroup("merge", "merge_segments")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            merge_segments(spark, src, str(tmp_path / "m"), n_out=2, salt=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs, _, _ = _job_counts(sc, "merge")
    assert jobs <= 10, jobs
    assert not [w for w in caught if issubclass(w.category, UserWarning)], [
        str(w.message) for w in caught
    ]


def test_merge_rerun_after_fault_matches_uninterrupted(spark, small_index, tmp_path):
    """A merge that fails while writing an output segment, re-run into the
    same directory, ends in the index an uninterrupted merge writes; a
    different plan into that directory is refused."""
    src, _ = small_index
    clean, faulted = str(tmp_path / "clean"), str(tmp_path / "faulted")
    merge_segments(spark, src, clean, n_out=2, salt=2)

    # output segment 2 (sources 2 and 3) cannot commit its postings file
    blocker = os.path.join(faulted, "postings", "seg=2", "part-0.parquet")
    os.makedirs(blocker)
    with pytest.raises(Exception, match="IsADirectoryError"):
        merge_segments(spark, src, faulted, n_out=2, salt=2)
    shutil.rmtree(blocker)
    merge_segments(spark, src, faulted, n_out=2, salt=2)

    def hashes(d):
        return sorted(
            pq.read_table(p).column("content_hash")[0].as_py()
            for p in glob.glob(os.path.join(d, "manifest", "*.parquet"))
        )

    assert hashes(faulted) == hashes(clean)
    for tbl in ("term_stats", "stats"):
        a = spark.read.parquet(os.path.join(clean, tbl)).toPandas()
        b = spark.read.parquet(os.path.join(faulted, tbl)).toPandas()
        a = a.sort_values(list(a.columns)).reset_index(drop=True)
        b = b.sort_values(list(b.columns)).reset_index(drop=True)
        assert a.equals(b), tbl
    # a different plan into the same directory would leave segment 2 behind
    with pytest.raises(ValueError, match="does not write"):
        merge_segments(spark, src, faulted, n_out=1, salt=2)
