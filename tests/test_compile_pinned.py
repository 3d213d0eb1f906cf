"""``compile_query`` pinned over every clause shape × every similarity
(Spark-free): which cells the engine refuses, and a sha256 over every
compiled clause's kind, terms, f32 weight bits, aux bits, member weights,
slop and window — so a refactor of the weight/aux/refusal logic must keep
the compiled queries bit for bit."""

from __future__ import annotations

import hashlib
import pickle

import numpy as np
import pytest

from lucene_solr_spark.search.bm25 import (
    OMIT_NORMS, SIMILARITIES, CollectionStats, bm25_tuned,
)
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

N_DOCS, SUM_TTF = 1000, 25_000
DF = {"a": 40, "b": 120, "c": 7, "d": 300}
TTF = {"a": 95, "b": 410, "c": 9, "d": 1200}
CACHE = np.zeros(256, dtype=np.float32)  # compile never reads the table

ALL = frozenset(SIMILARITIES)
POSITIONAL = frozenset({"bm25", "docsonly", "classic", "sweetspot", "boolean"})


def _must(clause) -> BooleanSpec:
    return BooleanSpec(must=[clause], should=[TermClause("d", 2.0)])


# shape → (spec, similarities that compile it); "zz" is absent from the index
SHAPES = {
    "term": (BooleanSpec(
        must=[TermClause("a", 1.5)], should=[TermClause("b"), TermClause("zz")],
    ), ALL),
    "filter_term": (BooleanSpec(
        should=[TermClause("a")], filter=[TermClause("b")],
    ), ALL),
    "filter_or_group": (BooleanSpec(
        should=[TermClause("a")], filter=[OrGroupClause(("b", "zz", "c"))],
    ), POSITIONAL),
    "phrase": (_must(PhraseClause(("a", "b"), (0, 2), 1.5, slop=1)), POSITIONAL),
    "span_first": (_must(SpanFirstClause("a", 5, 1.5, start=1)), POSITIONAL),
    "span_near": (_must(SpanNearClause(("a", "b"), 2, 1.5)), POSITIONAL),
    "span_near_unordered": (
        _must(SpanNearUnorderedClause(("a", "b"), 1, 1.5)), POSITIONAL,
    ),
    "span_near_or": (
        _must(SpanNearOrClause((("a", "zz"), ("b", "c")), 3, 1.5)), POSITIONAL,
    ),
    "span_or": (_must(SpanOrClause(("a", "b", "zz"), 1.5)), POSITIONAL),
    "interval": (
        _must(IntervalUnorderedClause(("a", "b"), 2, ordered=True, boost=1.5)),
        POSITIONAL,
    ),
    "span_contain": (
        _must(SpanContainClause(("a", "b"), "c", 2, "within", 1.5)), POSITIONAL,
    ),
    "span_not": (_must(SpanNotClause("a", "b", 1, 2, 1.5)), POSITIONAL),
    "or_group": (
        _must(OrGroupClause(("a", "b", "zz"), 1.5)), frozenset({"bm25", "classic"}),
    ),
    "blended": (
        _must(BlendedTermClause(("a", "b", "zz"), (1.0, 0.5, 0.25), 1.5)),
        frozenset({"bm25", "classic"}),
    ),
    "synonym": (
        _must(SynonymClause(("a", "b", "zz"), 1.5)),
        frozenset({"bm25", "classic", "boolean"}),
    ),
    "multiphrase": (
        _must(MultiPhraseClause((("a", "zz"), ("b", "c")), (0, 1), 1.5)),
        frozenset({"bm25"}),
    ),
}

# sha256 of every compiled cell, computed at the commit before the
# similarity records replaced the per-module name dispatch
PINNED = "5e5d40f3d4d985b46555f4a48a0f00f58fe7fd396c80c9857e56f1d28bcdae11"


def _compile(spec: BooleanSpec, name: str):
    return compile_query(
        spec, DF, N_DOCS, CACHE, 10, similarity=SIMILARITIES[name],
        term_ttf=TTF, sum_ttf=SUM_TTF,
    )


def test_support_matrix():
    assert len(SHAPES) == 16 and len(ALL) == 11
    for shape, (spec, ok) in SHAPES.items():
        for name in sorted(ALL):
            if name in ok:
                assert _compile(spec, name).clauses, (shape, name)
            else:
                with pytest.raises(ValueError, match=rf"^{name} .*not implemented"):
                    _compile(spec, name)


def test_compiled_bits_pinned():
    h = hashlib.sha256()
    for shape, (spec, ok) in SHAPES.items():
        for name in sorted(ok):
            q = _compile(spec, name)
            h.update(repr((shape, name, q.n_must, q.min_should_match)).encode())
            for c in q.clauses:
                h.update(repr((
                    c.kind, c.terms, c.offsets, c.slots, c.occur,
                    np.float32(c.weight).tobytes(), float(c.aux).hex(),
                    np.asarray(c.member_weights, dtype=np.float32).tobytes(),
                    c.slop, c.post,
                )).encode())
    assert h.hexdigest() == PINNED


def test_records_pickle_by_reference():
    # CompiledQuery carries its record into the scoring tasks; plain pickle
    # refuses lambdas and closures, so this pins module-level functions
    stats = CollectionStats(N_DOCS, SUM_TTF)
    for sim in (*SIMILARITIES.values(), OMIT_NORMS, bm25_tuned(0.9, 0.4)):
        back = pickle.loads(pickle.dumps(sim))
        assert back.name == sim.name
        np.testing.assert_array_equal(back.table(stats), sim.table(stats))
