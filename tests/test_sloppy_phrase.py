"""SloppyPhrase parity gate: the engine's heap-based sloppy-phrase matcher
(``search/kernels.py#_sloppy_freq_one_doc``, the SloppyPhraseMatcher
algorithm) must be rank- AND float32-score-identical to the oracle's
independent argmin-vector restatement of the same published algorithm
(``search/oracle.py#_sloppy_phrase_postings``), plus semantic invariants:
slop=large ⊇ slop=0 doc set, and monotone doc coverage in slop."""

import numpy as np
import pytest

from lucene_solr_spark.search.kernels import _sloppy_freq_one_doc
from lucene_solr_spark.search.query import BooleanSpec, PhraseClause
from lucene_solr_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    index_dir, _ = small_index
    return IndexSearcher(spark, index_dir)


PHRASES = [
    (["merge", "batch"], 1),
    (["merge", "batch"], 3),
    (["table", "hash"], 2),
    (["vector", "stream"], 4),
    (["spark", "executor"], 2),
    (["query", "scan"], 5),
]


def _spec(searcher, surface, slop):
    return searcher.parse("phrase2", surface, slop=slop)


@pytest.mark.parametrize("surface,slop", PHRASES)
def test_sloppy_engine_matches_oracle(searcher, oracle, surface, slop):
    spec = _spec(searcher, surface, slop)
    got = searcher.search(spec, k=20, mode="exact").toPandas().sort_values("rank")
    golden = oracle.search(spec, k=20)
    assert len(got) == len(golden), f"{surface}~{slop}"
    if len(golden):
        np.testing.assert_array_equal(got.doc_id.to_numpy(), golden.doc_id.to_numpy())
        np.testing.assert_array_equal(
            got.score.to_numpy().astype(np.float32),
            golden.score.to_numpy().astype(np.float32),
        )


def test_sloppy_superset_of_exact(searcher, oracle):
    """Every exact-phrase hit also matches with slop>0 (freq only grows)."""
    exact = oracle.search(_spec(searcher, ["merge", "batch"], 0), k=200)
    sloppy = oracle.search(_spec(searcher, ["merge", "batch"], 4), k=200)
    assert set(exact.doc_id) <= set(sloppy.doc_id)


def test_sloppy_doc_coverage_monotone_in_slop(searcher, oracle):
    sizes = [
        len(oracle.search(_spec(searcher, ["table", "hash"], s), k=500))
        for s in (0, 1, 2, 4, 8)
    ]
    assert sizes == sorted(sizes)


# --- unit vectors for the matcher kernel (hand-checked against the
# SloppyPhraseScorer#phraseFreq trace) ---------------------------------------

def _freq(pos_lists, slop):
    return float(_sloppy_freq_one_doc([np.array(p, dtype=np.int64) for p in pos_lists], slop))


def test_matcher_exact_adjacent():
    # "a b" at positions a=[0], b=[1] → adjusted b-offset1 = [0]; length 0
    assert _freq([[0], [0]], 0) == 1.0


def test_matcher_one_transposition():
    # "a b" but text "b a": a=[1], b=[0] → adjusted [1], [-1]: matchLength 2
    assert _freq([[1], [-1]], 1) == 0.0
    assert _freq([[1], [-1]], 2) == pytest.approx(1.0 / 3.0, abs=1e-7)


def test_matcher_two_windows_accumulate():
    # two adjacent occurrences: freq = 1 + 1 (both matchLength 0)
    assert _freq([[0, 10], [0, 10]], 0) == 2.0


def test_matcher_gap_within_slop():
    # "a x b": a=[0], b(adj)=[1] → matchLength 1 → factor 1/2
    assert _freq([[0], [1]], 2) == pytest.approx(0.5, abs=1e-7)


def test_matcher_minimizes_before_scoring():
    # a=[0, 4], b(adj)=[4]: best window is (4,4) length 0 → freq 1.0,
    # the (0,4) candidate is minimized away, not double-counted
    assert _freq([[0, 4], [4]], 0) == 1.0


def test_compile_carries_slop(searcher):
    spec = BooleanSpec(must=[PhraseClause(("merg", "batch"), (0, 1), slop=3)])
    cq = searcher.compile(spec, k=5)
    assert cq.clauses and cq.clauses[0].slop == 3


# --- property: the two independent matcher implementations agree on random
# position-list inputs (engine heap walk vs oracle argmin vector walk) -------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _pos_lists(draw):
    n_terms = draw(st.integers(min_value=2, max_value=4))
    lists = []
    for t in range(n_terms):
        ps = draw(st.lists(st.integers(min_value=0, max_value=40),
                           min_size=1, max_size=8, unique=True))
        # offset-adjust like the kernels do: subtract the phrase offset (=t)
        lists.append(np.sort(np.array(ps, dtype=np.int64)) - t)
    return lists


def _oracle_freq(pos_lists, slop):
    """Oracle-side matcher, isolated from pandas plumbing: same argmin-vector
    walk as BruteForceOracle._sloppy_phrase_postings."""
    n = len(pos_lists)
    it = [0] * n
    cur = [int(pl[0]) for pl in pos_lists]
    end = max(cur)

    def argmin_cur(exclude=None):
        best = None
        for t in range(n):
            if t == exclude:
                continue
            if best is None or cur[t] < cur[best]:
                best = t
        return best

    f = np.float32(0.0)
    active = argmin_cur()
    nxt = cur[argmin_cur(exclude=active)]
    match_length = end - cur[active]
    while True:
        it[active] += 1
        if it[active] >= len(pos_lists[active]):
            break
        p = int(pos_lists[active][it[active]])
        cur[active] = p
        if p > end:
            end = p
        if p > nxt:
            if match_length <= slop:
                f = np.float32(f + np.float32(1.0 / (match_length + 1)))
            active = argmin_cur()
            nxt = cur[argmin_cur(exclude=active)]
            match_length = end - cur[active]
        else:
            ml2 = end - p
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        f = np.float32(f + np.float32(1.0 / (match_length + 1)))
    return float(f)


@settings(max_examples=300, deadline=None)
@given(_pos_lists(), st.integers(min_value=0, max_value=10))
def test_sloppy_matcher_impls_agree(pos_lists, slop):
    assert float(_sloppy_freq_one_doc(pos_lists, slop)) == _oracle_freq(pos_lists, slop)


@settings(max_examples=150, deadline=None)
@given(_pos_lists())
def test_sloppy_freq_monotone_in_slop(pos_lists):
    freqs = [float(_sloppy_freq_one_doc(pos_lists, s)) for s in (0, 2, 5, 40)]
    assert all(a <= b + 1e-6 for a, b in zip(freqs, freqs[1:]))


# --- vectorized 2-term verify parity ----------------------------------------
# The production 2-term path (_sloppy_freqs_2term_vec) replaces the per-doc
# Python heap walk with a merged-order adjacency scan; it must be BITWISE
# float32-identical to _sloppy_freq_one_doc on every doc, including the
# history-dependent tie ordering (exact-match positions across the two lists).

from lucene_solr_spark.search.kernels import _sloppy_phrase_freqs  # noqa: E402


@st.composite
def _corpus_2term(draw):
    n_docs = draw(st.integers(min_value=1, max_value=6))
    off1 = draw(st.integers(min_value=0, max_value=3))
    docs = []
    for d in range(n_docs):
        a = draw(st.lists(st.integers(min_value=0, max_value=24),
                          min_size=0, max_size=7, unique=True))
        b = draw(st.lists(st.integers(min_value=0, max_value=24),
                          min_size=0, max_size=7, unique=True))
        docs.append((sorted(a), sorted(b)))
    return docs, (0, off1)


@settings(max_examples=400, deadline=None)
@given(_corpus_2term(), st.integers(min_value=0, max_value=12))
def test_sloppy_2term_vectorized_parity(corpus, slop):
    docs, offsets = corpus
    docs_per_term, pos_flat, tfs = [], [], []
    for t in range(2):
        ids = np.array([d for d, (a, b) in enumerate(docs) if (a, b)[t]],
                       dtype=np.int64)
        docs_per_term.append(ids)
        pos_flat.append(np.concatenate(
            [np.array((a, b)[t], dtype=np.int64) for (a, b) in
             (docs[i] for i in ids)] or [np.empty(0, dtype=np.int64)]))
        tfs.append(np.array([len((a, b)[t]) for (a, b) in
                             (docs[i] for i in ids)], dtype=np.int64))
    got_docs, got_freq = _sloppy_phrase_freqs(
        list(zip(docs_per_term, tfs, pos_flat)), offsets, slop)
    # reference: per-doc heap walk over offset-adjusted lists
    exp = {}
    for d, (a, b) in enumerate(docs):
        if not a or not b:
            continue
        pls = [np.array(a, dtype=np.int64) - offsets[0],
               np.array(b, dtype=np.int64) - offsets[1]]
        f = _sloppy_freq_one_doc(pls, slop)
        if f > 0:
            exp[d] = np.float32(f)
    assert list(got_docs) == sorted(exp)
    for d, f in zip(got_docs, got_freq):
        assert np.float32(f) == exp[int(d)], (docs, offsets, slop, d)
