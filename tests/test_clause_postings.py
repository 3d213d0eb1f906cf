"""The counting kernel and the exact scoring kernel match the same documents
for every clause kind (Spark-free): ``count_segment_matches`` equals the
size of ``score_segment_exact(k=n_docs)``'s doc set with the clause as
MUST, as SHOULD beside a term, and as MUST with a MUST_NOT term."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index.codec import encode_posting_blocks
from lucene_solr_spark.search.bm25 import BM25, CollectionStats
from lucene_solr_spark.search.kernels import count_segment_matches, score_segment_exact
from lucene_solr_spark.search.query import (
    BlendedTermClause,
    BooleanSpec,
    IntervalUnorderedClause,
    MultiPhraseClause,
    OrGroupClause,
    PhraseClause,
    SpanContainClause,
    SpanFirstClause,
    SpanNearClause,
    SpanNearOrClause,
    SpanNearUnorderedClause,
    SpanNotClause,
    SpanOrClause,
    SynonymClause,
    TermClause,
    compile_query,
)

N_DOCS = 80
VOCAB = ("a", "b", "c", "d", "e", "f", "g", "h")
P = (0.25, 0.2, 0.1, 0.1, 0.1, 0.1, 0.1, 0.05)


def _segment(seed: int = 11):
    rng = np.random.default_rng(seed)
    docs = [rng.choice(VOCAB, rng.integers(3, 15), p=P) for _ in range(N_DOCS)]
    norms = rng.integers(20, 60, N_DOCS).astype(np.int64)
    term_blocks, df = {}, {}
    for t in VOCAB:
        ids, tfs, pos = [], [], []
        for d, toks in enumerate(docs):
            p = np.flatnonzero(toks == t)
            if p.size:
                ids.append(d)
                tfs.append(p.size)
                pos.extend(p.tolist())
        ids = np.array(ids, dtype=np.int64)
        # small blocks so matches span several of them
        term_blocks[t] = encode_posting_blocks(
            ids, np.array(tfs), norms[ids], np.array(pos), block_size=16
        )
        df[t] = len(ids)
    sum_ttf = sum(len(toks) for toks in docs)
    return term_blocks, norms, df, sum_ttf


CLAUSES = {
    "term": TermClause("a"),
    "phrase": PhraseClause(("a", "b"), (0, 1)),
    "sloppy_phrase": PhraseClause(("a", "b", "c"), (0, 1, 2), slop=2),
    "or_group": OrGroupClause(("b", "c")),
    "blended": BlendedTermClause(("b", "c"), (1.0, 0.5)),
    "synonym": SynonymClause(("b", "c")),
    "multiphrase": MultiPhraseClause((("a",), ("b", "c")), (0, 1)),
    "span_first": SpanFirstClause("c", 4, start=1),
    "span_near": SpanNearClause(("a", "b"), 1),
    "span_near_unordered": SpanNearUnorderedClause(("a", "b"), 1),
    "span_near_or": SpanNearOrClause((("a", "d"), ("b",)), 1),
    "span_not": SpanNotClause("a", "b", 1, 1),
    "interval_unordered": IntervalUnorderedClause(("c", "d"), 1),
    "interval_ordered": IntervalUnorderedClause(("c", "d"), 1, ordered=True),
    "span_containing": SpanContainClause(("a", "b"), "c", 3, "containing"),
    "span_within": SpanContainClause(("a", "b"), "c", 3, "within"),
    "span_or": SpanOrClause(("d", "e")),
}


@pytest.mark.parametrize("kind", sorted(CLAUSES))
def test_count_equals_exact_doc_set(kind):
    term_blocks, norms, df, sum_ttf = _segment()
    cache = BM25.table(CollectionStats(N_DOCS, sum_ttf))
    c = CLAUSES[kind]
    for spec in (
        BooleanSpec(must=[c]),
        BooleanSpec(should=[c, TermClause("e")]),
        BooleanSpec(must=[c], must_not=[TermClause("e")]),
    ):
        q = compile_query(spec, df, N_DOCS, cache, N_DOCS)
        assert q.clauses, (kind, spec)
        docs, _ = score_segment_exact(term_blocks, norms, 0, q)
        assert 0 < docs.size < N_DOCS, (kind, spec)
        assert count_segment_matches(term_blocks, q) == docs.size, (kind, spec)
