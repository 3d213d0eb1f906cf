"""Surround query parser + unordered span-near kernel
(``lucene/queryparser/surround``, ``L/search/spans/NearSpansUnordered``).

Driver entry ``ft_surround_topk`` gates parse→execute end-to-end against
DuckDB; these tests certify the parser mapping (distance k → slop k−1,
W/N, AND/OR/NOT, subset errors) and the vectorized unordered matcher's
identity with the literal two-pointer NearSpansUnordered walk
(``_two_pointer_walk``)."""

import numpy as np
import pytest

from lucene_solr_spark.analysis import SimpleAnalyzer
from lucene_solr_spark.search.kernels import _span_near_unordered_freqs_2term
from lucene_solr_spark.search.query import (
    SpanNearClause,
    SpanNearUnorderedClause,
    TermClause,
)
from lucene_solr_spark.search.surround import parse_surround


def _an():
    return SimpleAnalyzer()


def test_parse_distance_ops():
    spec = parse_surround("3W(merge, batch) OR 4N(vector, filter)", _an())
    a, b = spec.should
    assert isinstance(a, SpanNearClause) and a.terms == ("merge", "batch")
    assert a.slop == 2  # DistanceQuery: opDistance - 1
    assert isinstance(b, SpanNearUnorderedClause)
    assert b.terms == ("vector", "filter") and b.slop == 3
    assert not spec.must and not spec.must_not


def test_parse_default_distance_and_case():
    spec = parse_surround("w(merge, batch)", _an())
    (a,) = spec.should
    assert isinstance(a, SpanNearClause) and a.slop == 0  # adjacent


def test_parse_and_not():
    spec = parse_surround("2W(merge, batch) AND scan", _an())
    assert len(spec.must) == 2 and isinstance(spec.must[1], TermClause)
    spec2 = parse_surround("merge NOT batch", _an())
    assert [c.term for c in spec2.must_not] == ["batch"]


def test_parse_subset_errors():
    with pytest.raises(ValueError, match="one operator type"):
        parse_surround("a AND b OR c", _an())
    with pytest.raises(ValueError, match="nested"):
        parse_surround("3W(a, b) OR (c d)", _an())
    with pytest.raises(ValueError, match="distance"):
        parse_surround("0W(a, b)", _an())


def _parts(doc_pos: dict[int, list[int]]):
    docs = np.array(sorted(doc_pos), dtype=np.int64)
    tfs = np.array([len(doc_pos[d]) for d in docs], dtype=np.int64)
    pos = np.concatenate([
        np.array(sorted(doc_pos[d]), dtype=np.int64) for d in docs
    ]) if len(docs) else np.empty(0, dtype=np.int64)
    return docs, tfs, pos


def _two_pointer_walk(doc_pos0: dict, doc_pos1: dict, slop: int):
    """The literal NearSpansUnordered walk per doc: pair the two heads,
    match when |gap| − 1 <= slop (factor 1/(1 + max(0, width))), advance
    the head with the smaller start (term0 on ties)."""
    out_docs, out_freqs = [], []
    for d in sorted(set(doc_pos0) & set(doc_pos1)):
        a, b = sorted(doc_pos0[d]), sorted(doc_pos1[d])
        i = j = 0
        f = 0.0
        while i < len(a) and j < len(b):
            width = abs(a[i] - b[j]) - 1
            if width <= slop:
                f += float(
                    np.float32(1.0) / (np.float32(1.0) + np.float32(max(0, width)))
                )
            if a[i] <= b[j]:
                i += 1
            else:
                j += 1
        if f > 0:
            out_docs.append(d)
            out_freqs.append(np.float32(f))
    return out_docs, np.array(out_freqs, dtype=np.float32)


def test_unordered_matches_both_directions():
    # doc 5: a at 3, b at 1 → unordered gap 1 matches, ordered would not
    p0 = _parts({5: [3]})
    p1 = _parts({5: [1]})
    docs, freqs = _span_near_unordered_freqs_2term(p0, p1, 1)
    assert docs.tolist() == [5]
    assert freqs[0] == pytest.approx(1.0 / 2.0)


def test_unordered_vectorized_equals_two_pointer_walk():
    rng = np.random.RandomState(42)
    for _ in range(200):
        pa = np.unique(rng.randint(0, 40, rng.randint(1, 10)))
        pb = np.unique(rng.randint(0, 40, rng.randint(1, 10)))
        slop = int(rng.randint(0, 8))
        d1, f1 = _span_near_unordered_freqs_2term(
            _parts({7: pa.tolist()}), _parts({7: pb.tolist()}), slop
        )
        d2, f2 = _two_pointer_walk({7: pa.tolist()}, {7: pb.tolist()}, slop)
        assert d1.tolist() == d2
        np.testing.assert_array_equal(f1, f2)


def test_unordered_multi_doc():
    a = {1: [0, 4], 3: [2], 7: [1, 5, 9]}
    b = {3: [2, 6], 7: [4, 6], 9: [0]}
    d1, f1 = _span_near_unordered_freqs_2term(_parts(a), _parts(b), 2)
    d2, f2 = _two_pointer_walk(a, b, 2)
    assert d1.tolist() == d2 == [3, 7]
    np.testing.assert_array_equal(f1, f2)
