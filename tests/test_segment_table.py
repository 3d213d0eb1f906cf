"""The manifest is the segment table: ``build.read_manifest`` lists the
committed segments and derives each base as the exclusive cumsum of
``n_docs`` over the rows it returns. No segment file stores a base, so a
reader sees exactly the segments that have a marker, and a commit rewrites
no file of a segment it did not write."""

import glob
import hashlib
import os
import shutil

import pytest

from lucene_solr_spark.index.build import SEGMENT_ROOTS, read_manifest
from lucene_solr_spark.index.updates import delete_docs, expunge_deletes, refresh_stats
from lucene_solr_spark.search.searcher import IndexSearcher

OR2 = ("or2", ["error", "spark"])


def test_read_manifest_derives_bases_from_the_rows_it_returns(small_index):
    index_dir, manifest = small_index
    m = read_manifest(index_dir)
    n = [int(x) for x in m["n_docs"]]
    assert [int(s) for s in m["seg"]] == [0, 1, 2, 3]
    assert [int(b) for b in m["base"]] == [0, n[0], n[0] + n[1], n[0] + n[1] + n[2]]
    assert list(manifest.sort_values("seg")["base"]) == list(m["base"])
    # a view restricted to some segments gets the bases of its own rows
    sub = read_manifest(index_dir, segs=[2, 0])
    assert [int(s) for s in sub["seg"]] == [0, 2]
    assert [int(b) for b in sub["base"]] == [0, n[0]]
    with pytest.raises(FileNotFoundError):
        read_manifest(index_dir, segs=[0, 7])


def test_unmarked_segment_is_invisible_to_a_new_searcher(spark, small_index, tmp_path):
    """Segment files whose manifest marker was never written (a writer that
    died before its marker) are not searched, not joined into the docs
    view and not counted by a stats refresh."""
    idx = str(tmp_path / "idx")
    shutil.copytree(small_index[0], idx)
    before = IndexSearcher(spark, idx)
    want = before.search(before.parse(*OR2), k=10, with_keys=True).collect()
    n_docs = before.docs.count()
    stats = before.stats

    for root in SEGMENT_ROOTS:
        shutil.copytree(os.path.join(idx, root, "seg=3"), os.path.join(idx, root, "seg=4"))
    s = IndexSearcher(spark, idx)
    assert s.search(s.parse(*OR2), k=10, with_keys=True).collect() == want
    assert s.docs.count() == n_docs
    assert list(s.layout) == [0, 1, 2, 3]
    refresh_stats(spark, idx)
    assert IndexSearcher(spark, idx).stats == stats


def _segment_files(index_dir: str, skip: int) -> dict[str, str]:
    """{index-relative path: sha256} of every file of every segment but
    ``skip``, manifest markers included."""
    paths = [
        p for root in SEGMENT_ROOTS
        for p in glob.glob(os.path.join(index_dir, root, "seg=*", "*.parquet"))
    ] + glob.glob(os.path.join(index_dir, "manifest", "seg=*.parquet"))
    out = {}
    for p in paths:
        rel = os.path.relpath(p, index_dir)
        if rel.split(os.sep)[1].split(".")[0] != f"seg={skip}":
            with open(p, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_expunge_writes_only_the_segment_it_rewrites(spark, small_index, tmp_path):
    """Expunging deletes from segment 1 shifts the bases of segments 2 and
    3, yet every file of segments 0, 2 and 3 stays byte-identical: each
    segment file is written once, before its marker."""
    idx = str(tmp_path / "idx")
    shutil.copytree(small_index[0], idx)
    victims = (
        spark.read.parquet(os.path.join(idx, "docs"))
        .filter("seg = 1 AND turn_idx % 2 = 0").select("conv_id", "turn_idx")
    )
    assert delete_docs(spark, idx, victims) > 0
    before = _segment_files(idx, skip=1)
    assert len(before) == 3 * (len(SEGMENT_ROOTS) + 1)
    bases = list(read_manifest(idx)["base"])

    report = expunge_deletes(spark, idx)
    assert report["rewritten_segs"] == [1] and report["expunged_docs"] > 0
    assert list(read_manifest(idx)["base"])[2:] != bases[2:]
    assert _segment_files(idx, skip=1) == before
