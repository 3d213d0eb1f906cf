"""MultiPhraseQuery unit parity: the union-postings + exact-intersect path
vs a naive per-doc reference matcher, and the compile-time weight/liveness
semantics (``L/search/MultiPhraseQuery``)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.search.bm25 import CLASSIC
from lucene_solr_spark.search.kernels import _phrase_freqs, _union_postings


def _postings_from_docs(doc_positions: dict[int, list[int]]):
    """(docs, tfs, pos_flat) in index order from {doc: sorted positions}."""
    docs = np.array(sorted(doc_positions), dtype=np.int64)
    tfs = np.array([len(doc_positions[d]) for d in docs], dtype=np.int64)
    pos = np.array(
        [p for d in docs for p in doc_positions[d]], dtype=np.int64
    )
    return docs, tfs, pos


def _naive_multiphrase_freqs(term_pos, slots, offsets):
    """Reference: per doc, count start positions where every slot has some
    member term at start + offset."""
    all_docs = sorted({d for t in term_pos for d in term_pos[t]})
    out = {}
    for d in all_docs:
        slot_pos = []
        for slot in slots:
            ps = set()
            for t in slot:
                ps.update(term_pos.get(t, {}).get(d, []))
            slot_pos.append(ps)
        if any(not ps for ps in slot_pos):
            continue
        n = sum(
            1
            for start in slot_pos[0]
            if all(
                (start - offsets[0] + off) in ps
                for off, ps in zip(offsets, slot_pos)
            )
        )
        if n:
            out[d] = n
    return out


@st.composite
def _corpus(draw):
    n_terms = draw(st.integers(2, 5))
    terms = [f"t{i}" for i in range(n_terms)]
    term_pos = {}
    for t in terms:
        n_docs = draw(st.integers(0, 6))
        docs = draw(
            st.lists(st.integers(0, 9), min_size=n_docs, max_size=n_docs,
                     unique=True)
        )
        term_pos[t] = {
            d: sorted(draw(st.lists(st.integers(0, 15), min_size=1,
                                    max_size=5, unique=True)))
            for d in docs
        }
    n_slots = draw(st.integers(2, 3))
    slots = tuple(
        tuple(draw(st.lists(st.sampled_from(terms), min_size=1, max_size=3,
                            unique=True)))
        for _ in range(n_slots)
    )
    return term_pos, slots


@given(_corpus())
@settings(max_examples=200, deadline=None)
def test_multiphrase_matches_naive(case):
    term_pos, slots = case
    offsets = tuple(range(len(slots)))
    per = [
        _union_postings([_postings_from_docs(term_pos[t]) for t in slot])
        for slot in slots
    ]
    docs, freqs = _phrase_freqs(per, offsets)
    want = _naive_multiphrase_freqs(term_pos, slots, offsets)
    assert dict(zip(docs.tolist(), freqs.tolist())) == want


def test_union_postings_dedups_and_sorts():
    a = _postings_from_docs({3: [1, 5], 7: [2]})
    b = _postings_from_docs({3: [5, 9], 1: [0]})
    docs, tfs, pos = _union_postings([a, b])
    assert docs.tolist() == [1, 3, 7]
    assert tfs.tolist() == [1, 3, 1]          # doc 3: {1, 5, 9} (5 deduped)
    assert pos.tolist() == [0, 1, 5, 9, 2]


def test_union_postings_empty_and_single():
    e = _postings_from_docs({})
    a = _postings_from_docs({2: [4]})
    docs, tfs, pos = _union_postings([e, a])
    assert docs.tolist() == [2] and tfs.tolist() == [1] and pos.tolist() == [4]
    docs, _, _ = _union_postings([e])
    assert docs.size == 0


def test_compile_multiphrase_weight_and_liveness():
    """Weight = boost · f32(Σ idf over LIVE member terms); a slot with no
    live member kills a MUST clause; dead members are dropped from live
    slots and from the idf sum."""
    from lucene_solr_spark.search.bm25 import idf as bm25_idf
    from lucene_solr_spark.search.query import (
        BooleanSpec, MultiPhraseClause, compile_query,
    )

    cache = np.ones(256, dtype=np.float32)
    df = {"a": 10, "b": 5, "c": 2}
    spec = BooleanSpec(must=[MultiPhraseClause(
        (("a",), ("b", "zz", "c")), (0, 1)
    )])
    q = compile_query(spec, df, 100, cache, k=10)
    (c,) = q.clauses
    assert c.kind == "multiphrase"
    assert c.slots == (("a",), ("b", "c"))
    assert c.terms == ("a", "b", "c")
    want = np.float32(1.0) * np.float32(
        sum(float(bm25_idf(df[t], 100)) for t in ("a", "b", "c"))
    )
    assert c.weight == want
    assert q.needs_positions

    dead = BooleanSpec(must=[MultiPhraseClause(
        (("a",), ("zz", "yy")), (0, 1)
    )])
    q2 = compile_query(dead, df, 100, cache, k=10)
    assert q2.clauses == []

    with pytest.raises(ValueError):
        compile_query(spec, df, 100, cache, k=10, similarity=CLASSIC)
