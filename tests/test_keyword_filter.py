"""Keyword-field FILTER path (BooleanClause.Occur.FILTER as a posting-list
intersection): the field is indexed as one `\\x01col:value` term per doc
(index/build.keyword_term) and compiled as a weight-0 MUST clause — fully
distributed, nothing collected to the driver, scores bit-identical to the
unfiltered query restricted post-hoc (non-scoring invariant)."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.datagen import generate_transcripts
from lucene_solr_spark.index.build import build_index, keyword_term
from lucene_solr_spark.search.bm25 import LM
from lucene_solr_spark.search.query import TermClause
from lucene_solr_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def kw_index(spark, tmp_path_factory):
    pdf = generate_transcripts(80)
    idx = str(tmp_path_factory.mktemp("kwidx") / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), idx, n_segments=3,
        keyword_cols=("role",),
    )
    return idx, pdf


def _spec_with_filter(s, role):
    spec = s.parse("or3", ["merge", "batch", "stream"], 0)
    spec.filter.append(TermClause(keyword_term("role", role)))
    return spec


def test_keyword_filter_matches_posthoc_restriction(spark, kw_index):
    idx, pdf = kw_index
    s = IndexSearcher(spark, idx)

    # reference: unfiltered ALL hits, post-hoc restricted to role, top 15
    base = s.parse("or3", ["merge", "batch", "stream"], 0)
    all_hits = (
        s.search(base, k=10**6, with_keys=True)
        .join(s.docs.select("doc_id", "role"), "doc_id")
        .toPandas()
    )
    for role in ("user", "assistant"):
        want = (
            all_hits[all_hits.role == role]
            .sort_values(["score", "doc_id"], ascending=[False, True],
                         kind="mergesort")
            .head(15)[["doc_id", "score"]]
            .reset_index(drop=True)
        )
        got = (
            s.search(_spec_with_filter(s, role), k=15)
            .toPandas()[["doc_id", "score"]]
        )
        pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_keyword_filter_wand_equals_exact(spark, kw_index):
    idx, _ = kw_index
    s = IndexSearcher(spark, idx)
    q = s.compile(_spec_with_filter(s, "assistant"), k=20)
    a = s.search(q, k=20, mode="wand").toPandas()
    b = s.search(q, k=20, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_keyword_filter_zero_weight_keeps_scores(spark, kw_index):
    """The filter clause must contribute exactly 0.0f to every score: any
    doc appearing in both filtered and unfiltered results has bit-identical
    float32 scores."""
    idx, _ = kw_index
    s = IndexSearcher(spark, idx)
    base = s.search(s.parse("or3", ["merge", "batch", "stream"], 0), k=10**6).toPandas()
    filt = s.search(_spec_with_filter(s, "user"), k=10**6).toPandas()
    j = filt.merge(base, on="doc_id", suffixes=("_f", "_b"))
    assert len(j) == len(filt)
    assert (
        j.score_f.to_numpy().astype(np.float32)
        == j.score_b.to_numpy().astype(np.float32)
    ).all()


def test_keyword_terms_hidden_from_term_api(spark, kw_index):
    idx, _ = kw_index
    s = IndexSearcher(spark, idx)
    # multiterm expansion never surfaces internal keyword terms
    assert all(not t.startswith("\x01") for t in s.expand_terms("wildcard", "%"))


def test_keyword_filter_survives_merge(spark, kw_index, tmp_path):
    """Merging segments must preserve keyword posting lists (incl. their
    zero-position streams): filtered results identical pre/post merge."""
    from lucene_solr_spark.index.merge import merge_segments

    idx, _ = kw_index
    merged = str(tmp_path / "kwmerged")
    merge_segments(spark, idx, merged, n_out=1, salt=2)

    s0 = IndexSearcher(spark, idx)
    s1 = IndexSearcher(spark, merged)
    spec0 = _spec_with_filter(s0, "assistant")
    spec1 = _spec_with_filter(s1, "assistant")
    a = s0.search(spec0, k=25).toPandas()
    b = s1.search(spec1, k=25).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_keyword_filter_under_lm_similarity(spark, kw_index):
    """FILTER clauses carry aux=1.0 so the LMDirichlet scorer (which divides
    by aux) never sees 0·inf = NaN and WAND bounds never divide by zero —
    scores must be finite and bit-equal to the unfiltered LM query
    restricted post-hoc (non-scoring invariant, any similarity)."""
    idx, pdf = kw_index
    s = IndexSearcher(spark, idx)
    base = s.parse("or3", ["merge", "batch", "stream"], 0)
    q_nofilter = s.compile(base, k=10**6, similarity=LM)
    all_hits = (
        s.search(q_nofilter, k=10**6, mode="exact")
        .join(s.docs.select("doc_id", "role"), "doc_id")
        .toPandas()
    )
    want = (
        all_hits[all_hits.role == "user"]
        .sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
        .head(10)[["doc_id", "score"]]
        .reset_index(drop=True)
    )
    spec = _spec_with_filter(s, "user")
    for mode in ("exact", "wand"):
        got = (
            s.search(s.compile(spec, k=10, similarity=LM), k=10, mode=mode)
            .toPandas()[["doc_id", "score"]]
        )
        assert np.isfinite(got.score.to_numpy()).all()
        pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_null_keyword_value_indexes_no_term(tmp_path):
    """A doc whose keyword column is null gets no keyword posting; the docs
    with a value keep theirs (Spark-free: one segment's invert)."""
    import pyarrow as pa

    from lucene_solr_spark.index.build import IndexMeta, _invert_partition, read_segment
    from lucene_solr_spark.index.codec import decode_segment

    tbl = pa.table({
        "conv_id": ["c0", "c1", "c2", "c3"],
        "turn_idx": pa.array([0, 0, 0, 0], type=pa.int32()),
        "text": ["merge a", "merge b", "stream c", "merge d"],
        "tool": ["grep", None, "grep", None],
    })
    meta = IndexMeta("simple", ("conv_id", "turn_idx"), "text", True, 1, keyword_cols=("tool",))
    key_types = {c: tbl.schema.field(c).type for c in meta.key_cols}
    _invert_partition([tbl], 0, meta, str(tmp_path), key_types)
    post = read_segment(str(tmp_path), "postings", 0)
    starts, docs, _, _ = decode_segment(post)
    by_term = dict(zip(post["term"].to_pylist(), np.split(docs, starts[1:])))
    assert [t for t in by_term if t.startswith("\x01")] == [keyword_term("tool", "grep")]
    np.testing.assert_array_equal(by_term[keyword_term("tool", "grep")], [0, 2])
    np.testing.assert_array_equal(by_term["merge"], [0, 1, 3])


def test_keyword_column_name_with_colon_is_rejected(spark, tmp_path):
    """``keyword_term`` joins column and value with ':'. With keyword
    columns ``a`` and ``a:b``, ``a = "b:c"`` and ``a:b = "c"`` would both be
    the term ``\\x01a:b:c``, so a FILTER on ``a = "b:c"`` would also match
    c1. The build refuses the column by name before it writes anything."""
    pdf = pd.DataFrame({
        "conv_id": ["c0", "c1"], "turn_idx": [0, 0], "text": ["merge one", "merge two"],
        "a": ["b:c", "x"], "a:b": ["y", "c"],
    })
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="'a:b'"):
        build_index(spark, spark.createDataFrame(pdf), idx, analyzer="simple",
                    n_segments=1, keyword_cols=("a", "a:b"))
    assert not (tmp_path / "idx").exists()
