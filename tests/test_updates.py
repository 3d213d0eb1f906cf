"""Deletes/updates (tombstone + delete-and-re-add; PendingDeletes /
DirectUpdateHandler2#addDoc semantics) and the append-after-merge lifecycle.

The core invariant: after ``update_docs``, every search result (keys AND
float32 scores) equals a FRESH build over the post-update corpus — stats are
refreshed excluding tombstones, re-added docs land in appended segments.
"""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.datagen import generate_queries, generate_transcripts
from lucene_solr_spark.index.build import append_batch, build_index
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.index.updates import (
    TombstoneLayoutError,
    delete_docs,
    read_tombstones,
    tombstone_files,
    tombstone_segs,
    tombstones_path,
    update_docs,
)
from lucene_solr_spark.search.searcher import IndexSearcher


def _result_sets(spark, index_dir, n_queries=12):
    # k large enough to return EVERY hit: internal docID order (the score
    # tiebreak) differs between an updated and a fresh index, so boundary
    # ties would legitimately pick different docs at small k; with all hits
    # returned, key+score multisets must match exactly.
    s = IndexSearcher(spark, index_dir)
    qs = generate_queries()[:n_queries]
    compiled = s.compile_many({
        f"q{q['query_id']:02d}": (s.parse(q["qtype"], q["terms"], q["min_should"]), 100000)
        for q in qs
    })
    out = s.search_many(compiled, mode="wand")
    return (
        out.join(s.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .toPandas()[["query_id", "conv_id", "turn_idx", "score"]]
        .sort_values(["query_id", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts(100)


def _n_deleted(index_dir):
    """Deleted docs of the index, counted through the one reader."""
    return sum(
        len(read_tombstones(index_dir, seg))
        for seg in tombstone_segs(tombstone_files(index_dir))
    )


def test_update_equals_fresh_build(spark, corpus, tmp_path):
    """update_docs(changed rows) ≡ fresh build over the post-update corpus
    (same keys, same float32 scores) for the WAND query suite."""
    upd_dir = str(tmp_path / "upd")
    fresh_dir = str(tmp_path / "fresh")

    build_index(spark, spark.createDataFrame(corpus), upd_dir, n_segments=4)

    changed = corpus[corpus.turn_idx == 0].copy()
    changed["text"] = changed["text"] + " merge merge vector refresh"
    post = corpus.copy()
    mask = post.turn_idx == 0
    post.loc[mask, "text"] = post.loc[mask, "text"] + " merge merge vector refresh"

    update_docs(spark, spark.createDataFrame(changed), upd_dir, n_segments=2)
    build_index(spark, spark.createDataFrame(post), fresh_dir, n_segments=4)

    a = _result_sets(spark, upd_dir)
    b = _result_sets(spark, fresh_dir)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_delete_hides_docs_and_refreshes_stats(spark, corpus, tmp_path):
    idx = str(tmp_path / "del")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=4)
    s0 = IndexSearcher(spark, idx)
    n0 = s0.stats.doc_count

    victims = corpus[corpus.turn_idx == 1][["conv_id", "turn_idx"]]
    n_del = delete_docs(spark, idx, spark.createDataFrame(victims))
    assert n_del == len(victims)

    assert _n_deleted(idx) == n_del

    s1 = IndexSearcher(spark, idx)
    assert s1.stats.doc_count == n0 - n_del

    # no deleted doc ever surfaces
    qs = generate_queries()[:10]
    compiled = s1.compile_many({
        str(i): (s1.parse(q["qtype"], q["terms"], q["min_should"]), 50)
        for i, q in enumerate(qs)
    })
    hits = (
        s1.search_many(compiled, mode="wand")
        .join(s1.docs.select("doc_id", "turn_idx"), "doc_id")
        .toPandas()
    )
    assert (hits.turn_idx != 1).all()


def test_delete_by_query_equals_fresh_build_without_matches(spark, corpus, tmp_path):
    """deleteByQuery(term) ≡ fresh build over the corpus minus the term's
    match set (DirectUpdateHandler2#deleteByQuery): the FULL match set is
    tombstoned (not a per-segment top-k), stats shrink, and the WAND query
    suite returns identical float32 results on both indexes."""
    from lucene_solr_spark.index.updates import delete_by_query_hits

    dbq_dir = str(tmp_path / "dbq")
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(corpus), dbq_dir, n_segments=4)

    s0 = IndexSearcher(spark, dbq_dir)
    term = "merge"
    q = s0.compile(s0.parse("term", [term]), k=1 << 30)
    n_matches = s0.hits(q, mode="exact").count()
    matched_keys = (
        s0.hits(q, mode="exact")
        .join(s0.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .select("conv_id", "turn_idx")
        .toPandas()
    )
    n_del = delete_by_query_hits(spark, dbq_dir, s0.hits(q, mode="exact"))
    assert n_del == n_matches > 0  # the WHOLE match set, not top-k

    gone = set(map(tuple, matched_keys.to_numpy()))
    survivors = corpus[
        ~corpus[["conv_id", "turn_idx"]].apply(tuple, axis=1).isin(gone)
    ]
    assert len(survivors) == len(corpus) - n_del
    build_index(spark, spark.createDataFrame(survivors), fresh_dir, n_segments=4)

    a = _result_sets(spark, dbq_dir)
    b = _result_sets(spark, fresh_dir)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_total_hits_relation(spark, corpus, tmp_path):
    idx = str(tmp_path / "th")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=3)
    s = IndexSearcher(spark, idx)
    spec = s.parse("or3", ["merge", "batch", "stream"], 0)

    # independent count: docs matching >=1 analyzed term
    terms = {t for c in spec.should for t in [c.term]}
    an = s.analyzer
    match = corpus.text.map(
        lambda txt: any(t in {tok for tok, _ in an.analyze(txt)} for t in terms)
    )
    exact = int(match.sum())

    v, rel = s.total_hits(spec, threshold=10**9)
    assert (v, rel) == (exact, "EQ")
    v2, rel2 = s.total_hits(spec, threshold=5)
    assert (v2, rel2) == ((exact, "EQ") if exact <= 5 else (5, "GTE"))


def test_append_after_merge(spark, corpus, tmp_path):
    """ADVICE item: merged indexes must accept further appends (background
    merge + continued NRT appends) — manifest rows and seg_norms naming are
    preserved by merge_segments."""
    convs = sorted(corpus.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    first, second = corpus[corpus.conv_id.isin(half)], corpus[~corpus.conv_id.isin(half)]

    src = str(tmp_path / "src")
    merged = str(tmp_path / "merged")
    one = str(tmp_path / "one")

    build_index(spark, spark.createDataFrame(first), src, n_segments=4)
    merge_segments(spark, src, merged, n_out=2, salt=2)
    append_batch(spark, spark.createDataFrame(second), merged, n_segments=2)

    build_index(spark, spark.createDataFrame(corpus), one, n_segments=4)
    a = _result_sets(spark, merged)
    b = _result_sets(spark, one)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_merge_carries_tombstones(spark, corpus, tmp_path):
    src = str(tmp_path / "src2")
    merged = str(tmp_path / "m2")
    build_index(spark, spark.createDataFrame(corpus), src, n_segments=4)
    victims = corpus[corpus.turn_idx == 2][["conv_id", "turn_idx"]]
    delete_docs(spark, src, spark.createDataFrame(victims))

    merge_segments(spark, src, merged, n_out=2, salt=2)
    s = IndexSearcher(spark, merged)
    assert _n_deleted(merged) == len(victims)
    qs = generate_queries()[:6]
    compiled = s.compile_many({
        str(i): (s.parse(q["qtype"], q["terms"], q["min_should"]), 50)
        for i, q in enumerate(qs)
    })
    hits = (
        s.search_many(compiled, mode="wand")
        .join(s.docs.select("doc_id", "turn_idx"), "doc_id")
        .toPandas()
    )
    assert (hits.turn_idx != 2).all()


def test_search_does_not_mutate_compiled_query(spark, corpus, tmp_path):
    """ADVICE item: a CompiledQuery searched with a filter must not keep the
    filter on later searches."""
    idx = str(tmp_path / "nomut")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=3)
    s = IndexSearcher(spark, idx)
    q = s.compile(s.parse("or3", ["merge", "batch", "stream"], 0), k=20)

    unfiltered_before = s.search(q, k=20).toPandas()
    some_keys = s.docs.select("conv_id", "turn_idx").limit(5)
    fmap = s.filter_map(some_keys)
    filtered = s.search(q, k=20, filter_by_base=fmap).toPandas()
    unfiltered_after = s.search(q, k=20).toPandas()

    assert q.filter_by_base is None
    pd.testing.assert_frame_equal(unfiltered_before, unfiltered_after)
    assert len(filtered) <= 5


def test_delete_twice_is_idempotent(spark, corpus, tmp_path):
    """Deleting the same keys twice: the second call reports 0 newly
    tombstoned docs and the tombstone table does not grow (anti-join
    against the existing tombstones — IndexWriter#deleteDocuments is
    idempotent)."""
    import glob as _glob

    idx = str(tmp_path / "del2")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=3)
    victims = spark.createDataFrame(
        corpus[corpus.turn_idx == 1][["conv_id", "turn_idx"]]
    )
    n1 = delete_docs(spark, idx, victims, refresh=False)
    assert n1 > 0
    rows_after_first = sum(
        len(pd.read_parquet(f))
        for f in _glob.glob(os.path.join(idx, "tombstones", "**", "*.parquet"), recursive=True)
    )
    n2 = delete_docs(spark, idx, victims, refresh=False)
    assert n2 == 0
    rows_after_second = sum(
        len(pd.read_parquet(f))
        for f in _glob.glob(os.path.join(idx, "tombstones", "**", "*.parquet"), recursive=True)
    )
    assert rows_after_second == rows_after_first == n1


def test_tasks_read_segment_tombstones(spark, corpus, tmp_path):
    """Each scoring task reads its own segment's tombstone files: WAND ≡
    exact, no victim surfaces, and the count kernel agrees. A commit-point
    searcher opened after a later delete batch reads only the files its
    commit recorded."""
    from lucene_solr_spark.index.commits import commit_point
    from lucene_solr_spark.search.searcher import IndexSearcher

    idx = str(tmp_path / "segdel")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=3)
    victims = spark.createDataFrame(
        corpus[corpus.turn_idx % 3 == 0][["conv_id", "turn_idx"]]
    )
    n = delete_docs(spark, idx, victims)
    assert n > 0
    # one file per segment for the batch, under tombstones/seg=N/
    assert len(tombstone_files(idx)) == len(tombstone_segs(tombstone_files(idx))) == 3

    s = IndexSearcher(spark, idx)
    victim_ids = {
        r.doc_id for r in s.docs.join(victims, ["conv_id", "turn_idx"]).collect()
    }
    or2 = s.compile(s.parse("or2", ["merge", "batch"]), k=1 << 30)
    hit_ids = {r.doc_id for r in s.hits(or2, mode="exact").collect()}
    assert hit_ids and not (hit_ids & victim_ids)  # tasks applied the deletes

    queries = [("or2", ["merge", "batch"]), ("term", ["stream"])]
    for qtype, terms in queries:
        wand = s.search(s.parse(qtype, terms), k=25, mode="wand").toPandas()
        ex = s.search(s.parse(qtype, terms), k=25, mode="exact").toPandas()
        pd.testing.assert_frame_equal(wand, ex)
    # the count kernel reads the same deletes
    v1 = s.total_hits(s.parse("or2", ["merge", "batch"]), threshold=10**6)
    assert v1 == (len(hit_ids), "EQ")

    want = {
        qtype: s.search(s.parse(qtype, terms), k=25, with_keys=True).toPandas()
        for qtype, terms in queries
    }
    gen = commit_point(idx)
    victims2 = spark.createDataFrame(
        corpus[corpus.turn_idx % 3 == 1][["conv_id", "turn_idx"]]
    )
    assert delete_docs(spark, idx, victims2) > 0
    live = IndexSearcher(spark, idx)
    assert live.total_hits(live.parse("or2", ["merge", "batch"]), threshold=10**6)[0] < v1[0]
    at = IndexSearcher(spark, idx, commit=gen)
    for qtype, terms in queries:
        got = at.search(at.parse(qtype, terms), k=25, with_keys=True).toPandas()
        pd.testing.assert_frame_equal(got, want[qtype])
    assert at.total_hits(at.parse("or2", ["merge", "batch"]), threshold=10**6) == v1


def test_flat_tombstone_file_is_refused(spark, corpus, tmp_path):
    """A tombstone file directly under ``tombstones/`` (the layout before
    deletes were per segment) raises a typed error wherever the index is
    opened or refreshed — its deletes are never silently dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.index.updates import refresh_stats

    idx = str(tmp_path / "flat")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=2)
    os.makedirs(tombstones_path(idx))
    pq.write_table(
        pa.table({"seg": pa.array([0], pa.int32()), "doc_local": pa.array([0], pa.int64())}),
        os.path.join(tombstones_path(idx), "part-00000.parquet"),
    )
    with pytest.raises(TombstoneLayoutError):
        IndexSearcher(spark, idx)
    with pytest.raises(TombstoneLayoutError):
        refresh_stats(spark, idx)
    with pytest.raises(TombstoneLayoutError):
        tombstone_segs(["tombstones/part-00000.parquet"])  # a commit's recorded list


def test_atomic_remove_add_distinct_equal_fresh_build(spark, corpus, tmp_path):
    """AtomicUpdate 'remove' and 'add-distinct' (S/update/processor/
    AtomicUpdateDocumentMerger): after both ops, search results equal a
    FRESH build over the pandas-merged corpus; add-distinct is idempotent."""
    from lucene_solr_spark.index.updates import atomic_update_docs

    idx_u = str(tmp_path / "u")
    idx_f = str(tmp_path / "f")
    build_index(spark, spark.createDataFrame(corpus), idx_u, n_segments=3)

    pdf = corpus.copy()

    # op 1: remove every 'merge' token from rows where index % 7 == 0
    m1 = pdf.index % 7 == 0
    ops1 = spark.createDataFrame(
        pdf.loc[m1, ["conv_id", "turn_idx"]].assign(text="merge")
    )
    atomic_update_docs(
        spark, idx_u, ops1, {"text": "remove"},
        spark.createDataFrame(pdf), n_segments=2,
    )
    pdf.loc[m1, "text"] = pdf.loc[m1, "text"].map(
        lambda t: " ".join(w for w in t.split(" ") if w != "merge")
    )

    # op 2: add-distinct 'batch' on rows where index % 11 == 3 — rows that
    # already contain the token must stay unchanged
    m2 = pdf.index % 11 == 3
    ops2 = spark.createDataFrame(
        pdf.loc[m2, ["conv_id", "turn_idx"]].assign(text="batch")
    )
    atomic_update_docs(
        spark, idx_u, ops2, {"text": "add-distinct"},
        spark.createDataFrame(pdf), n_segments=2,
    )
    pdf.loc[m2, "text"] = pdf.loc[m2, "text"].map(
        lambda t: t if "batch" in t.split(" ") else t + " batch"
    )

    build_index(spark, spark.createDataFrame(pdf), idx_f, n_segments=3)
    upd = _result_sets(spark, idx_u)
    fresh = _result_sets(spark, idx_f)
    pd.testing.assert_frame_equal(upd, fresh)


def test_optimistic_concurrency_cas(spark, corpus, tmp_path):
    """Compare-and-swap updates (Solr optimistic concurrency / 409
    Conflict): an update carrying the version it READ applies only when
    the live doc still has that version; stale expectations are rejected
    untouched, and the applied subset behaves exactly like a plain
    update_docs of those rows."""
    from lucene_solr_spark.index.updates import update_docs_cas

    idx = str(tmp_path / "cas")
    build_index(spark, spark.createDataFrame(corpus), idx, n_segments=4)

    import hashlib

    victims = corpus[corpus.turn_idx == 0].head(6).copy()
    fresh = victims.iloc[:3].copy()   # correct expectations → applied
    stale = victims.iloc[3:].copy()   # wrong expectations → rejected
    fresh["_expected_version_"] = fresh.text.map(
        lambda t: hashlib.md5(t.encode()).hexdigest()
    )
    stale["_expected_version_"] = "0" * 32  # a version nobody has
    batch = pd.concat([fresh, stale])
    batch["text"] = batch["text"] + " cas vector refresh"

    src = spark.createDataFrame(corpus)
    applied, rejected = update_docs_cas(
        spark, idx, spark.createDataFrame(batch), src, n_segments=2
    )
    ak = applied.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    rk = rejected.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(ak) == 3 and len(rk) == 3
    assert set(map(tuple, ak[["conv_id", "turn_idx"]].to_numpy())) == set(
        map(tuple, fresh[["conv_id", "turn_idx"]].to_numpy())
    )
    assert (rk.live != rk.expected).all()

    # post-state == fresh build over corpus with ONLY the applied changes
    post = corpus.copy()
    keys = set(map(tuple, fresh[["conv_id", "turn_idx"]].to_numpy()))
    mask = post[["conv_id", "turn_idx"]].apply(tuple, axis=1).isin(keys)
    post.loc[mask, "text"] = post.loc[mask, "text"] + " cas vector refresh"
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(post), fresh_dir, n_segments=4)
    pd.testing.assert_frame_equal(
        _result_sets(spark, idx), _result_sets(spark, fresh_dir), check_exact=True
    )
