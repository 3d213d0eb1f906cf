"""Interval matcher parity (``lucene/queries/.../intervals/
Intervals.java#unordered`` / ``#ordered`` + ``#maxgaps``): the packed-key
vectorized kernel against a brute-force reference that enumerates every (a, b) position pair and keeps the minimal
intervals (those containing no smaller interval of both terms); match when
gaps <= maxgaps; freq = Σ f32 1/(1+gaps). Stacked tokens (both terms at one
position) are covered: unordered they form the zero-width interval [p, p]
(gaps 0), ordered they are no match (the second term must start past the
first's end)."""

import numpy as np

from lucene_solr_spark.search.kernels import _interval_unordered_freqs


def _parts(per_doc: dict[int, list[int]]) -> tuple:
    docs = np.array(sorted(per_doc), dtype=np.int64)
    tfs = np.array([len(per_doc[d]) for d in docs], dtype=np.int64)
    pos = np.concatenate(
        [np.sort(np.asarray(per_doc[d], dtype=np.int64)) for d in docs]
    ) if len(docs) else np.empty(0, dtype=np.int64)
    return docs, tfs, pos


def _shift(per_doc: dict[int, list[int]], base: int) -> tuple:
    return _parts({d: [base + p for p in ps] for d, ps in per_doc.items()})


def _has_interval(a: list, b: list, lo: int, hi: int, ordered: bool) -> bool:
    """Whether [lo, hi] holds an interval of both terms (a before b when
    ordered)."""
    return any(
        lo <= x <= hi and lo <= y <= hi and (y > x if ordered else True)
        for x in a for y in b
    )


def _brute(a: dict, b: dict, maxgaps: int, ordered: bool = False) -> dict[int, float]:
    out = {}
    for d in sorted(set(a) & set(b)):
        spans = {
            (min(x, y), max(x, y))
            for x in a[d] for y in b[d] if y > x or not ordered
        }
        total = np.float64(0.0)
        for lo, hi in sorted(spans):
            # minimal: neither one-position-shorter interval still holds one
            if hi > lo and (
                _has_interval(a[d], b[d], lo + 1, hi, ordered)
                or _has_interval(a[d], b[d], lo, hi - 1, ordered)
            ):
                continue
            gaps = max(hi - lo - 1, 0)
            if gaps <= maxgaps:
                total += np.float64(
                    np.float32(1.0) / (np.float32(1.0) + np.float32(gaps))
                )
        if total > 0:
            out[d] = float(np.float32(total))
    return out


def test_hand_case_both_orders():
    # a=[1, 9], b=[3, 7]: merged 1a 3b 7b 9a → pairs (1a,3b) gaps 1 and
    # (7b,9a) gaps 1 — the b-before-a pair matches too (unordered)
    docs, tfs = _interval_unordered_freqs(
        _parts({5: [1, 9]}), _parts({5: [3, 7]}), maxgaps=1
    )
    assert docs.tolist() == [5]
    np.testing.assert_allclose(tfs, [np.float32(1.0)])  # 0.5 + 0.5


def test_minimality():
    # a=[0], b=[2, 10]: only (0,2) is minimal/adjacent; (0,10) contains it
    docs, tfs = _interval_unordered_freqs(
        _parts({1: [0]}), _parts({1: [2, 10]}), maxgaps=100
    )
    assert docs.tolist() == [1]
    # pairs: (0a,2b) gaps 1 → 0.5; (2b,10b) same term — not an interval
    np.testing.assert_allclose(tfs, [np.float32(0.5)])


def test_maxgaps_filters():
    docs, _ = _interval_unordered_freqs(
        _parts({1: [0]}), _parts({1: [5]}), maxgaps=3
    )
    assert docs.size == 0
    docs, tfs = _interval_unordered_freqs(
        _parts({1: [0]}), _parts({1: [5]}), maxgaps=4
    )
    assert docs.tolist() == [1]
    np.testing.assert_allclose(tfs, [np.float32(0.2)])


def test_random_parity_vs_brute_and_fallback():
    rng = np.random.default_rng(11)
    for trial in range(40):
        n_docs = int(rng.integers(1, 10))
        a, b = {}, {}
        for d in range(n_docs):
            L = int(rng.integers(6, 50))
            for tgt, p in ((a, 0.3), (b, 0.3)):
                ps = np.nonzero(rng.random(L) < p)[0]
                if ps.size:
                    tgt[d] = ps.tolist()
        common = sorted(set(a) & set(b))
        if not common:
            continue
        maxgaps = int(rng.integers(0, 5))
        for ordered in (False, True):
            want = _brute(a, b, maxgaps, ordered)
            # the same docs shifted past 2²¹ and up to 2³¹ − 1
            # (intervals do not change under a common shift)
            for base in (0, 3_000_000, 2**31 - 50):
                docs, tfs = _interval_unordered_freqs(
                    _shift(a, base), _shift(b, base), maxgaps, ordered
                )
                got = dict(zip(docs.tolist(), tfs.tolist()))
                assert set(got) == set(want), (trial, ordered, base)
                for d in want:
                    np.testing.assert_allclose(got[d], want[d], rtol=1e-6)


def test_ordered_intervals():
    """Intervals.ordered: only (first → second) adjacent pairs match."""
    # a=[1, 9], b=[3, 7]: ordered pairs (1a,3b); (7b,9a) is b-before-a
    docs, tfs = _interval_unordered_freqs(
        _parts({5: [1, 9]}), _parts({5: [3, 7]}), 1, ordered=True
    )
    assert docs.tolist() == [5]
    np.testing.assert_allclose(tfs, [np.float32(0.5)])
    # only reversed order present → no match
    docs, _ = _interval_unordered_freqs(
        _parts({1: [10]}), _parts({1: [2]}), 100, ordered=True
    )
    assert docs.size == 0


def test_stacked_tokens_hand_cases():
    # a and b stacked at 3: unordered, the zero-width interval [3, 3]
    docs, tfs = _interval_unordered_freqs(_parts({1: [3]}), _parts({1: [3]}), 0)
    assert docs.tolist() == [1] and tfs.tolist() == [1.0]
    # ordered, b must start past a's end: a stacked pair is no match
    docs, _ = _interval_unordered_freqs(
        _parts({1: [3]}), _parts({1: [3]}), 5, ordered=True
    )
    assert docs.size == 0
    # a=[3, 5], b=[3]: (3b, 5a) contains the stacked [3, 3] — not minimal
    docs, tfs = _interval_unordered_freqs(
        _parts({1: [3, 5]}), _parts({1: [3]}), 5
    )
    assert tfs.tolist() == [1.0]
    # ordered a=[1, 3], b=[3, 6]: (1a, 3b) gaps 1 and (3a, 6b) gaps 2
    docs, tfs = _interval_unordered_freqs(
        _parts({1: [1, 3]}), _parts({1: [3, 6]}), 5, ordered=True
    )
    np.testing.assert_allclose(tfs, [np.float32(0.5 + 1 / 3)], rtol=1e-6)


def test_stacked_token_interval_query_scores_finite_brute_value():
    """An interval query over stacked tokens (as a synonym or keyword-repeat
    chain indexes them) scores every doc finitely, and each score equals
    BM25 over the brute-force interval freq."""
    from lucene_solr_spark.index.codec import encode_posting_blocks
    from lucene_solr_spark.search.bm25 import BM25, CollectionStats, idf
    from lucene_solr_spark.search.kernels import score_segment_exact
    from lucene_solr_spark.search.query import (
        BooleanSpec,
        IntervalUnorderedClause,
        compile_query,
    )

    x = {0: [2], 1: [0, 4], 2: [1, 7], 3: [5]}
    y = {0: [2], 1: [4, 5], 2: [3], 4: [0]}
    n_docs = 6
    norms = np.full(n_docs, 12, dtype=np.int64)
    blocks = {
        t: encode_posting_blocks(docs, tfs, norms[docs], pos)
        for t, (docs, tfs, pos) in (("x", _parts(x)), ("y", _parts(y)))
    }
    df = {"x": len(x), "y": len(y)}
    cache = BM25.table(CollectionStats(n_docs, 60))
    for ordered in (False, True):
        spec = BooleanSpec(must=[IntervalUnorderedClause(("x", "y"), 3, ordered)])
        q = compile_query(spec, df, n_docs, cache, n_docs)
        docs, scores = score_segment_exact(blocks, norms, 0, q)
        assert np.isfinite(scores).all() and docs.size
        want = _brute(x, y, 3, ordered)
        assert sorted(docs.tolist()) == sorted(want)
        weight = np.float32(float(idf(df["x"], n_docs)) + float(idf(df["y"], n_docs)))
        for d, got in zip(docs.tolist(), scores.tolist()):
            freq = want[d]
            ratio = np.float32(freq / (freq + float(cache[norms[d] & 0xFF])))
            np.testing.assert_allclose(got, np.float32(weight * ratio), rtol=1e-6)
