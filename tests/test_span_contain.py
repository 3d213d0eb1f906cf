"""SpanContainingQuery / SpanWithinQuery matcher parity: the packed-key
vectorized kernel against a brute-force per-doc reference
(``L/search/spans/SpanContainingQuery``, ``SpanWithinQuery`` rule: big =
ordered two-term SpanNear — one candidate span per start, nearest following
end, width <= big_slop; containment = p0 <= q <= p1 for a unit little at
q). 'within' freq = enclosed little count; 'containing' freq = Σ f32
1/(1+width) over enclosing big spans."""

import numpy as np

from lucene_solr_spark.search.kernels import _span_contain_freqs


def _parts(per_doc: dict[int, list[int]]) -> tuple:
    docs = np.array(sorted(per_doc), dtype=np.int64)
    tfs = np.array([len(per_doc[d]) for d in docs], dtype=np.int64)
    pos = np.concatenate(
        [np.sort(np.asarray(per_doc[d], dtype=np.int64)) for d in docs]
    ) if len(docs) else np.empty(0, dtype=np.int64)
    return docs, tfs, pos


def _shift(per_doc: dict[int, list[int]], base: int) -> tuple:
    return _parts({d: [base + p for p in ps] for d, ps in per_doc.items()})


def _brute(b0: dict, b1: dict, slop: int, lit: dict, mode: str) -> dict:
    out = {}
    for d in sorted(set(b0) & set(b1) & set(lit)):
        p1s = sorted(b1[d])
        spans = []
        for p0 in sorted(b0[d]):
            nxt = [p for p in p1s if p > p0]
            if nxt and nxt[0] - p0 - 1 <= slop:
                spans.append((p0, nxt[0]))
        if mode == "within":
            f = sum(
                1 for q in lit[d] if any(s <= q <= e for s, e in spans)
            )
        else:
            f = float(np.float64(np.sum(np.array([
                np.float64(np.float32(1.0) / (np.float32(1.0) + np.float32(e - s - 1)))
                for s, e in spans if any(s <= q <= e for q in lit[d])
            ], dtype=np.float64))))
        if f:
            out[d] = f
    return out


def test_hand_case_containing():
    # doc 7: big0 at [0, 10], big1 at [3, 12] → spans (0,3) w=2, (10,12) w=1
    # little at 11 is inside only the second span → freq = 1/(1+1) = 0.5
    docs, tfs = _span_contain_freqs(
        _parts({7: [0, 10]}), _parts({7: [3, 12]}), 4, _parts({7: [11]}),
        "containing",
    )
    assert docs.tolist() == [7]
    np.testing.assert_allclose(tfs, [np.float32(0.5)])


def test_hand_case_within():
    # same spans; littles at 1, 2 (inside first span), 11 (inside second),
    # 20 (outside) → within count = 3
    docs, tfs = _span_contain_freqs(
        _parts({7: [0, 10]}), _parts({7: [3, 12]}), 4,
        _parts({7: [1, 2, 11, 20]}), "within",
    )
    assert docs.tolist() == [7] and tfs.tolist() == [3]


def test_endpoints_inclusive():
    # little exactly at p0 or p1 is contained (big [p0, p1+1) vs unit
    # little [q, q+1): p0 <= q and q+1 <= p1+1)
    for q in (5, 9):
        docs, tfs = _span_contain_freqs(
            _parts({1: [5]}), _parts({1: [9]}), 5, _parts({1: [q]}), "within"
        )
        assert docs.tolist() == [1] and tfs.tolist() == [1]
    docs, _ = _span_contain_freqs(
        _parts({1: [5]}), _parts({1: [9]}), 5, _parts({1: [10]}), "within"
    )
    assert docs.size == 0


def test_unmatched_big_span_never_contains():
    # big span exists positionally but exceeds slop → no matches
    docs, _ = _span_contain_freqs(
        _parts({1: [0]}), _parts({1: [9]}), 3, _parts({1: [4]}), "within"
    )
    assert docs.size == 0


def test_random_parity_vs_brute_and_fallback():
    rng = np.random.default_rng(7)
    for trial in range(30):
        n_docs = int(rng.integers(1, 12))
        b0, b1, lit = {}, {}, {}
        for d in range(n_docs):
            L = int(rng.integers(10, 60))
            for tgt, p in ((b0, 0.25), (b1, 0.25), (lit, 0.3)):
                ps = np.nonzero(rng.random(L) < p)[0]
                if ps.size:
                    tgt[d] = ps.tolist()
        common = set(b0) & set(b1) & set(lit)
        if not common:
            continue
        slop = int(rng.integers(0, 6))
        for mode in ("within", "containing"):
            want = _brute(b0, b1, slop, lit, mode)
            # the same docs shifted past 2²¹ and up to 2³¹ − 1
            # (containment does not change under a common shift)
            for base in (0, 3_000_000, 2**31 - 60):
                docs, tfs = _span_contain_freqs(
                    _shift(b0, base), _shift(b1, base), slop, _shift(lit, base),
                    mode,
                )
                got = dict(zip(docs.tolist(), tfs.tolist()))
                assert set(got) == set(want), (trial, mode, base)
                for d in want:
                    np.testing.assert_allclose(got[d], want[d], rtol=1e-6)
