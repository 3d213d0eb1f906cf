"""Index build invariants — CheckIndex-style (SURVEY.md §5.2, L/index/CheckIndex
analog): postings sorted, stats consistent, docIDs dense/stable, per-turn text
equality under stable (conv_id, turn_idx) ordering."""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index.build import read_manifest
from lucene_solr_spark.index.codec import decode_postings
from lucene_solr_spark.util.smallfloat import encode_lengths


def _bases(index_dir) -> dict[int, int]:
    m = read_manifest(index_dir)
    return dict(zip(m.seg.astype(int), m.base.astype(int)))


def _global_docs(spark, index_dir) -> pd.DataFrame:
    """docs table with the derived GLOBAL doc_id (local + segment base)."""
    docs = spark.read.parquet(os.path.join(index_dir, "docs")).toPandas()
    bases = _bases(index_dir)
    docs["doc_id"] = docs.doc_local + docs.seg.map(bases)
    return docs


def test_manifest_complete(small_index):
    index_dir, manifest = small_index
    assert len(manifest) == 4
    assert (manifest.status == "built").all()
    assert manifest.n_docs.sum() > 0
    assert manifest.content_hash.str.len().eq(32).all()


def test_docids_dense_and_stable(spark, small_corpus, small_index):
    index_dir, _ = small_index
    docs = _global_docs(spark, index_dir)
    assert len(docs) == len(small_corpus)
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    np.testing.assert_array_equal(docs.doc_id.to_numpy(), np.arange(len(docs)))
    # docID = dense rank in ORDER BY conv_id, turn_idx
    expected = small_corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (docs.conv_id.to_numpy() == expected.conv_id.to_numpy()).all()
    np.testing.assert_array_equal(docs.turn_idx.to_numpy(), expected.turn_idx.to_numpy())


def test_per_turn_text_equality(spark, small_corpus, small_index):
    """input_hint invariant: joining docs back to the source by key preserves
    per-turn text equality under stable ordering."""
    index_dir, _ = small_index
    from lucene_solr_spark.search.searcher import IndexSearcher

    docs = IndexSearcher(spark, index_dir).docs
    src = spark.createDataFrame(small_corpus)
    joined = docs.join(src, ["conv_id", "turn_idx"]).orderBy("doc_id").toPandas()
    expected = small_corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (joined.text.to_numpy() == expected.text.to_numpy()).all()


def test_norms_match_lengths(spark, small_index, oracle):
    index_dir, _ = small_index
    docs = _global_docs(spark, index_dir).sort_values("doc_id")
    np.testing.assert_array_equal(docs.length.to_numpy(), oracle.doc_len)
    np.testing.assert_array_equal(
        docs.norm.to_numpy(), encode_lengths(oracle.doc_len).astype(np.int32)
    )


def test_seg_norms_blob_matches_docs(spark, small_index):
    index_dir, _ = small_index
    docs = _global_docs(spark, index_dir)
    segn = spark.read.parquet(os.path.join(index_dir, "seg_norms")).toPandas()
    assert "base" not in segn.columns  # segment-local: read_manifest derives it
    bases = _bases(index_dir)
    for _, r in segn.iterrows():
        blob = np.frombuffer(r["norms"], dtype=np.uint8)
        assert len(blob) == r["n"]
        seg_docs = docs[docs.seg == r["seg"]].sort_values("doc_id")
        np.testing.assert_array_equal(blob, seg_docs.norm.to_numpy().astype(np.uint8))
        assert (seg_docs.doc_local.to_numpy() == np.arange(r["n"])).all()
        assert (seg_docs.doc_id.to_numpy() == bases[r["seg"]] + np.arange(r["n"])).all()


def test_postings_sorted_and_consistent(spark, small_index, oracle):
    """Postings invariants: terms sorted within segment, docIDs strictly
    ascending within term, df/ttf match brute-force counts."""
    index_dir, _ = small_index
    posts = spark.read.parquet(os.path.join(index_dir, "postings")).toPandas()
    # per-seg term sort
    for seg, grp in posts.groupby("seg"):
        terms = grp.term.tolist()
        assert terms == sorted(terms)
    # decode every term (globalizing the seg-local ids) and compare against
    # the oracle's exploded frame
    bases = _bases(index_dir)
    agg: dict[str, list] = {}
    for _, r in posts.sort_values(["term", "seg"]).iterrows():
        docs, tfs = decode_postings(list(r["blocks"]))
        docs = docs + bases[int(r["seg"])]
        assert np.all(np.diff(docs) > 0), f"docs not strictly ascending for {r['term']}"
        agg.setdefault(r["term"], []).append((docs, tfs))
    oracle_tf = oracle._tf
    assert set(agg) == set(oracle_tf.index.get_level_values(0).unique())
    for term, parts in agg.items():
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        order = np.argsort(docs)
        docs, tfs = docs[order], tfs[order]
        sub = oracle_tf.loc[term]
        np.testing.assert_array_equal(docs, sub.index.to_numpy())
        np.testing.assert_array_equal(tfs, sub.to_numpy())


def test_global_stats(spark, small_index, oracle):
    index_dir, _ = small_index
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
    assert stats.doc_count == oracle.doc_count
    assert stats.sum_ttf == oracle.sum_ttf
    ts = spark.read.parquet(os.path.join(index_dir, "term_stats")).toPandas()
    df_map = dict(zip(ts.term, ts.df))
    oracle_df = oracle._df
    assert len(df_map) == len(oracle_df)
    for term, df in oracle_df.items():
        assert df_map[term] == df, term


def test_resume_recovers_from_shifted_boundaries(spark, small_corpus, tmp_path):
    """Cross-session resume safety: RangePartitioner's sampling seed derives
    from the RDD id (session history), so a resumed build can see DIFFERENT
    range boundaries than the committed markers record. The kernel refuses
    the mis-seamed resume; build_index must then recover by rebuilding
    fresh — never crash, never silently mix shifted segments."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.index.build import build_index

    idx = str(tmp_path / "idx")
    sdf = spark.createDataFrame(small_corpus)
    m1 = build_index(spark, sdf, idx, n_segments=4).toPandas().sort_values(
        "seg").reset_index(drop=True)
    # simulate the shift by falsifying one committed marker's key range
    # (indistinguishable, to the validator, from this run's partitioner
    # having landed on different boundaries)
    marker = sorted(glob.glob(f"{idx}/manifest/seg=*.parquet"))[1]
    t = pq.read_table(marker).to_pylist()
    t[0]["key_min"] = "\x00shifted"
    pq.write_table(pa.Table.from_pylist(t), marker)
    m2 = build_index(spark, sdf, idx, n_segments=4, resume=True).toPandas(
    ).sort_values("seg").reset_index(drop=True)
    # recovered by a FULL fresh rebuild (no segment resumed against the
    # stale markers). The rebuild's own boundaries may legitimately differ
    # again (same mechanism — its RDD id differs too), so compare
    # segmentation-INVARIANT properties: every doc present exactly once and
    # identical global term statistics.
    assert set(m2["status"]) == {"built"}
    assert int(m2["n_docs"].sum()) == int(m1["n_docs"].sum())
    ts = (
        spark.read.parquet(os.path.join(idx, "term_stats"))
        .toPandas().sort_values("term").reset_index(drop=True)
    )
    from lucene_solr_spark.search.oracle import BruteForceOracle

    orc = BruteForceOracle(small_corpus)
    assert dict(zip(ts.term, ts.df)) == dict(orc._df)


def test_kernel_error_mentioning_refusal_keeps_committed_segments(spark, small_corpus, tmp_path):
    """Only the kernel's typed refusal wipes an index: any other kernel
    failure propagates and deletes nothing — even when its message happens
    to contain the words "resume refused" (here through the index path)."""
    import glob

    from lucene_solr_spark.index.build import build_index

    idx = str(tmp_path / "resume refused" / "idx")
    sdf = spark.createDataFrame(small_corpus)
    build_index(spark, sdf, idx, n_segments=4)
    os.remove(os.path.join(idx, "manifest", "seg=2.parquet"))
    # a directory where segment 2's first file goes blocks the rebuild
    blocked = os.path.join(idx, "docs", "seg=2", "part-0.parquet")
    os.remove(blocked)
    os.makedirs(blocked)
    committed = {}
    for p in glob.glob(os.path.join(idx, "manifest", "seg=*.parquet")):
        with open(p, "rb") as f:
            committed[p] = f.read()
    with pytest.raises(Exception, match="part-0.parquet"):
        build_index(spark, sdf, idx, n_segments=4)
    left = {}
    for p in glob.glob(os.path.join(idx, "manifest", "seg=*.parquet")):
        with open(p, "rb") as f:
            left[p] = f.read()
    assert len(committed) == 3 and left == committed


def test_two_writers_of_one_path_each_commit_a_complete_file(tmp_path, monkeypatch):
    """A failed build's straggler task and its rebuild can write the same
    segment file at once. Writer A pauses between its tmp write and its
    rename while writer B writes and renames: both renames succeed (each
    writer owns its tmp name) and the file holds one writer's whole table."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.index import build

    real = pq.write_table
    paused, go = threading.Event(), threading.Event()

    def write_table(table, where, **kw):
        real(table, where, **kw)
        if threading.current_thread().name == "A":
            paused.set()
            go.wait(30)

    monkeypatch.setattr(pq, "write_table", write_table)
    path = str(tmp_path / "part-0.parquet")
    ta = pa.table({"x": np.arange(1000, dtype=np.int64)})
    tb = pa.table({"x": np.arange(7, dtype=np.int64)})
    errors = []

    def write_a():
        try:
            build._atomic_write(ta, path)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    a = threading.Thread(target=write_a, name="A")
    a.start()
    assert paused.wait(30)
    build._atomic_write(tb, path)
    go.set()
    a.join(30)
    assert not a.is_alive()
    assert errors == []
    assert pq.read_table(path).equals(ta)  # A renamed last
    assert os.listdir(tmp_path) == ["part-0.parquet"]
