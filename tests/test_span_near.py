"""SpanNearQuery matcher parity: the packed-key vectorized kernel against
a brute-force per-doc recurrence (``L/search/spans/NearSpansOrdered`` rule:
one span per start position, nearest following end, slop-factor freq)."""

import numpy as np
import pytest

from lucene_solr_spark.search.kernels import _span_near_freqs_2term


def _parts(per_doc: dict[int, list[int]]) -> tuple:
    docs = np.array(sorted(per_doc), dtype=np.int64)
    tfs = np.array([len(per_doc[d]) for d in docs], dtype=np.int64)
    pos = np.concatenate(
        [np.sort(np.asarray(per_doc[d], dtype=np.int64)) for d in docs]
    ) if len(docs) else np.empty(0, dtype=np.int64)
    return docs, tfs, pos


def _brute(per0: dict, per1: dict, slop: int) -> dict[int, np.float32]:
    """For each p0, the nearest following p1 in the same doc; f32 factors
    1/(1 + width) summed in float64 in p0 order, one f32 cast."""
    expect = {}
    for doc in sorted(set(per0) & set(per1)):
        p1s = sorted(per1[doc])
        f = 0.0
        for p0 in sorted(per0[doc]):
            nxt = [p for p in p1s if p > p0]
            if nxt and nxt[0] - p0 - 1 <= slop:
                f += float(
                    np.float32(1.0) / (np.float32(1.0) + np.float32(nxt[0] - p0 - 1))
                )
        if f > 0:
            expect[doc] = np.float32(f)
    return expect


def test_hand_case():
    # doc 7: t0 at 0 -> nearest t1 at 2 (width 1, sf 1/2);
    #        t0 at 5 -> nearest t1 at 6 (width 0, sf 1) => freq 1.5
    p0 = _parts({7: [0, 5]})
    p1 = _parts({7: [2, 6]})
    docs, freqs = _span_near_freqs_2term(p0, p1, slop=3)
    assert docs.tolist() == [7]
    assert freqs[0] == pytest.approx(1.5)


def test_order_matters():
    # t1 strictly before t0: inOrder=true must NOT match
    p0 = _parts({3: [9]})
    p1 = _parts({3: [2]})
    docs, _ = _span_near_freqs_2term(p0, p1, slop=100)
    assert docs.size == 0


def test_slop_gate():
    p0 = _parts({1: [0]})
    p1 = _parts({1: [4]})  # width 3
    assert _span_near_freqs_2term(p0, p1, slop=2)[0].size == 0
    docs, freqs = _span_near_freqs_2term(p0, p1, slop=3)
    assert docs.tolist() == [1] and freqs[0] == pytest.approx(0.25)


def test_nested_span_or_operands():
    """SpanNear over SpanOr unions: operand streams are position unions of
    member terms; verified against a brute-force per-doc recurrence."""
    from lucene_solr_spark.search.kernels import _union_postings

    rng = np.random.default_rng(19)
    for _ in range(15):
        n_docs = int(rng.integers(1, 20))
        members0, members1 = [], []
        per0: dict[int, set] = {}
        per1: dict[int, set] = {}
        for side, (members, per) in enumerate(
            ((members0, per0), (members1, per1))
        ):
            for _m in range(int(rng.integers(1, 4))):
                d = {}
                for doc in range(n_docs):
                    if rng.random() < 0.6:
                        d[doc] = sorted(
                            int(x) for x in
                            rng.choice(60, size=int(rng.integers(1, 6)),
                                       replace=False)
                        )
                        per.setdefault(doc, set()).update(d[doc])
                members.append(_parts(d))
        slop = int(rng.integers(0, 6))
        u0 = _union_postings(members0)
        u1 = _union_postings(members1)
        docs_v, freq_v = _span_near_freqs_2term(u0, u1, slop)
        expect = {d: float(f) for d, f in _brute(per0, per1, slop).items()}
        got = dict(zip(docs_v.tolist(), freq_v.astype(float).tolist()))
        assert set(got) == set(expect)
        for doc in got:
            assert got[doc] == pytest.approx(expect[doc], rel=1e-6)


def test_random_parity_vs_slow():
    """Random docs against ``_brute``, bitwise, at positions from 0, past
    2²¹ and up to 2³¹ − 1."""
    rng = np.random.default_rng(42)
    for trial in range(25):
        n_docs = int(rng.integers(1, 30))
        d0, d1 = {}, {}
        for d in range(n_docs):
            if rng.random() < 0.8:
                d0[d] = sorted(
                    rng.choice(200, size=int(rng.integers(1, 12)), replace=False)
                )
            if rng.random() < 0.8:
                d1[d] = sorted(
                    rng.choice(200, size=int(rng.integers(1, 12)), replace=False)
                )
        if not d0 or not d1:
            continue
        slop = int(rng.integers(0, 8))
        for base in (0, 3_000_000, 2**31 - 200):
            s0 = {d: [base + int(p) for p in ps] for d, ps in d0.items()}
            s1 = {d: [base + int(p) for p in ps] for d, ps in d1.items()}
            docs_v, freq_v = _span_near_freqs_2term(_parts(s0), _parts(s1), slop)
            want = _brute(s0, s1, slop)
            assert docs_v.tolist() == sorted(want), (trial, base)
            np.testing.assert_array_equal(freq_v, [want[d] for d in sorted(want)])
