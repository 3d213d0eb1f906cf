"""Every positional clause kind at positions far past 2²¹, up to 2³¹ − 1.

Postings are built from arrays (no multi-GiB text): eight docs, each a
300-token stream of random terms starting at a base such as 2²¹ − 64,
3,000,000 or 2³¹ − 300 (whose last token sits at 2³¹ − 1). Each clause
goes through ``encode_posting_blocks`` → ``compile_query`` →
``score_segment_exact``; its docs and f32 scores must equal the similarity
applied to a brute-force freq computed here per doc, and the searcher's
WAND-mode kernel must return the same top-k."""

import bisect

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index.codec import encode_posting_blocks
from lucene_solr_spark.search.bm25 import BM25, CollectionStats
from lucene_solr_spark.search.kernels import score_segment_exact, score_segment_wand
from lucene_solr_spark.search.oracle import BruteForceOracle
from lucene_solr_spark.search.query import (
    BooleanSpec,
    IntervalUnorderedClause,
    PhraseClause,
    SpanContainClause,
    SpanNearClause,
    SpanNearOrClause,
    SpanNearUnorderedClause,
    SpanNotClause,
    TermClause,
    compile_query,
)
from lucene_solr_spark.search.searcher import _kernel

TOP = 2**31 - 1
BASES = (0, 2**21 - 150, 2**21 - 64, 2**21 + 7, 3_000_000, TOP - 299, TOP - 299, 5_000)
VOCAB = ("x", "y", "z", "w", "u", "v")
DOC_LEN = 300


def _corpus():
    """{term: {doc: sorted positions}} — one term per position."""
    rng = np.random.default_rng(2024)
    pos: dict[str, dict[int, list[int]]] = {t: {} for t in VOCAB}
    for d, base in enumerate(BASES):
        terms = rng.choice(len(VOCAB), size=DOC_LEN, p=[0.25, 0.25, 0.2, 0.1, 0.1, 0.1])
        for i, t in enumerate(terms):
            pos[VOCAB[t]].setdefault(d, []).append(base + i)
    return pos


POS = _corpus()
N_DOCS = len(BASES)
NORMS = np.random.default_rng(7).integers(20, 200, size=N_DOCS).astype(np.int64)


def _blocks():
    out = {}
    for t, per in POS.items():
        docs = np.array(sorted(per), dtype=np.int64)
        tfs = np.array([len(per[d]) for d in docs], dtype=np.int64)
        flat = np.concatenate([np.array(per[d], dtype=np.int64) for d in docs])
        out[t] = encode_posting_blocks(docs, tfs, NORMS[docs], flat)
    return out


def _f32_sum(factors) -> np.float32:
    """Slop factors f32 1/(1 + width), summed in float64, one f32 cast."""
    return np.float32(sum(
        float(np.float32(1.0) / (np.float32(1.0) + np.float32(w))) for w in factors
    ))


def _at(t: str, d: int) -> list[int]:
    return POS[t].get(d, [])


def _near_spans(a: list[int], b: list[int], slop: int) -> list[tuple[int, int]]:
    """Ordered NearSpans: each a with the nearest following b, width <= slop."""
    out = []
    for p in a:
        i = bisect.bisect_right(b, p)
        if i < len(b) and b[i] - p - 1 <= slop:
            out.append((p, b[i]))
    return out


def _phrase(d, terms, offsets):
    sets = [set(_at(t, d)) for t in terms]
    return sum(
        all(s + o in st for st, o in zip(sets, offsets))
        for s in (p - offsets[0] for p in _at(terms[0], d))
    )


def _sloppy(terms, offsets, slop):
    """Sloppy freqs from the pure-pandas oracle's independent matcher, which
    reads only its (term, row, pos) frame — set here from the arrays."""
    oracle = object.__new__(BruteForceOracle)
    oracle.frame = pd.DataFrame(
        [(t, d, p) for t in terms for d, ps in POS[t].items() for p in ps],
        columns=["term", "row", "pos"],
    )
    docs, freqs = oracle._sloppy_phrase_postings(terms, offsets, slop)
    want = dict(zip(docs.tolist(), freqs.tolist()))
    return lambda d: np.float32(want.get(d, 0.0))


def _span_near(d, a, b, slop):
    return _f32_sum(q - p - 1 for p, q in _near_spans(_at(a, d), _at(b, d), slop))


def _span_near_unordered(d, a, b, slop):
    x, y, i, j, widths = _at(a, d), _at(b, d), 0, 0, []
    while i < len(x) and j < len(y):
        w = abs(x[i] - y[j]) - 1
        if w <= slop:
            widths.append(max(0, w))
        if x[i] <= y[j]:
            i += 1
        else:
            j += 1
    return _f32_sum(widths)


def _span_near_or(d, slots, slop):
    a, b = (sorted({p for t in slot for p in _at(t, d)}) for slot in slots)
    return _f32_sum(q - p - 1 for p, q in _near_spans(a, b, slop))


def _span_not(d, inc, exc, pre, post):
    qs = _at(exc, d)
    return sum(
        1 for p in _at(inc, d)
        if bisect.bisect_right(qs, p + post) == bisect.bisect_left(qs, p - pre)
    )


def _interval(d, a, b, maxgaps, ordered):
    """Minimal intervals holding both terms (terms[0] first when ordered):
    neither one-position-shorter interval still holds one."""
    x, y = _at(a, d), _at(b, d)

    def holds(lo, hi):
        i, j = bisect.bisect_left(x, lo), bisect.bisect_right(y, hi) - 1
        if ordered:
            return i < len(x) and j >= 0 and x[i] <= hi and y[j] >= lo and x[i] < y[j]
        k, m = bisect.bisect_right(x, hi), bisect.bisect_left(y, lo)
        return k > i and j >= m

    spans = {(min(p, q), max(p, q)) for p in x for q in y if q > p or not ordered}
    return _f32_sum(
        hi - lo - 1 for lo, hi in sorted(spans)
        if hi - lo - 1 <= maxgaps and not holds(lo + 1, hi) and not holds(lo, hi - 1)
    )


def _contain(d, big, little, slop, mode):
    spans = _near_spans(_at(big[0], d), _at(big[1], d), slop)
    lit = _at(little, d)
    if mode == "within":
        return sum(1 for q in lit if any(s <= q <= e for s, e in spans))
    return _f32_sum(
        e - s - 1 for s, e in spans if any(s <= q <= e for q in lit)
    )


CASES = [
    ("phrase_3", PhraseClause(("x", "y", "z"), (70, 71, 140)),
     lambda d: _phrase(d, ("x", "y", "z"), (70, 71, 140))),
    ("phrase_wide", PhraseClause(("z", "x"), (3, 200)),
     lambda d: _phrase(d, ("z", "x"), (3, 200))),
    ("sloppy_2", PhraseClause(("x", "y"), (5, 6), slop=3),
     _sloppy(("x", "y"), (5, 6), 3)),
    ("sloppy_3", PhraseClause(("x", "y", "z"), (1, 2, 3), slop=4),
     _sloppy(("x", "y", "z"), (1, 2, 3), 4)),
    ("span_near", SpanNearClause(("x", "y"), 2),
     lambda d: _span_near(d, "x", "y", 2)),
    ("span_near_unordered", SpanNearUnorderedClause(("z", "w"), 3),
     lambda d: _span_near_unordered(d, "z", "w", 3)),
    ("span_near_or", SpanNearOrClause((("x", "w"), ("y", "u")), 1),
     lambda d: _span_near_or(d, (("x", "w"), ("y", "u")), 1)),
    ("span_not", SpanNotClause("x", "y", 2, 1),
     lambda d: _span_not(d, "x", "y", 2, 1)),
    ("span_not_wide_post", SpanNotClause("z", "w", 0, 2**32),
     lambda d: _span_not(d, "z", "w", 0, 2**32)),
    ("span_not_wide_pre", SpanNotClause("y", "v", 2**31 + 3, 0),
     lambda d: _span_not(d, "y", "v", 2**31 + 3, 0)),
    ("interval_unordered", IntervalUnorderedClause(("x", "w"), 3),
     lambda d: _interval(d, "x", "w", 3, False)),
    ("interval_ordered", IntervalUnorderedClause(("w", "x"), 3, ordered=True),
     lambda d: _interval(d, "w", "x", 3, True)),
    ("span_within", SpanContainClause(("x", "y"), "z", 4, "within"),
     lambda d: _contain(d, ("x", "y"), "z", 4, "within")),
    ("span_containing", SpanContainClause(("x", "y"), "z", 4, "containing"),
     lambda d: _contain(d, ("x", "y"), "z", 4, "containing")),
]


@pytest.mark.parametrize("name, clause, brute", CASES, ids=[n for n, _, _ in CASES])
def test_positional_clause_matches_brute_force(name, clause, brute):
    blocks = _blocks()
    df = {t: len(per) for t, per in POS.items()}
    cache = BM25.table(CollectionStats(N_DOCS, N_DOCS * DOC_LEN))
    q = compile_query(BooleanSpec(must=[clause]), df, N_DOCS, cache, N_DOCS)
    (c,) = q.clauses
    docs, scores = score_segment_exact(blocks, NORMS, 0, q)
    freqs = {d: brute(d) for d in range(N_DOCS)}
    want = np.array([d for d in range(N_DOCS) if freqs[d] > 0], dtype=np.int64)
    assert want.size, "every case matches some doc"
    want_scores = q.sim.score(
        np.array([freqs[d] for d in want]), NORMS[want], c.weight, q.cache, c.aux,
    )
    order = np.argsort(docs)
    np.testing.assert_array_equal(docs[order], want)
    np.testing.assert_array_equal(scores[order], want_scores.astype(np.float32))
    wdocs, wscores = _kernel(q, "wand")(blocks, NORMS, 0, q)
    np.testing.assert_array_equal(wdocs, docs)
    np.testing.assert_array_equal(wscores, scores)


def test_term_wand_equals_exact_on_huge_position_blocks():
    blocks = _blocks()
    df = {t: len(per) for t, per in POS.items()}
    cache = BM25.table(CollectionStats(N_DOCS, N_DOCS * DOC_LEN))
    spec = BooleanSpec(should=[TermClause("x"), TermClause("w")])
    q = compile_query(spec, df, N_DOCS, cache, 3)
    wdocs, wscores = score_segment_wand(blocks, NORMS, 0, q)
    docs, scores = score_segment_exact(blocks, NORMS, 0, q)
    np.testing.assert_array_equal(wdocs, docs)
    np.testing.assert_array_equal(wscores, scores)
