"""SpanNotQuery matcher parity: the packed-key vectorized kernel against a
brute-force per-doc reference (``L/search/spans/SpanNotQuery`` rule: an
include occurrence at p is removed iff some exclude occurrence q satisfies
p − pre <= q <= p + post; tf = surviving count)."""

import numpy as np

from lucene_solr_spark.search.kernels import _span_not_freqs


def _parts(per_doc: dict[int, list[int]]) -> tuple:
    docs = np.array(sorted(per_doc), dtype=np.int64)
    tfs = np.array([len(per_doc[d]) for d in docs], dtype=np.int64)
    pos = np.concatenate(
        [np.sort(np.asarray(per_doc[d], dtype=np.int64)) for d in docs]
    ) if len(docs) else np.empty(0, dtype=np.int64)
    return docs, tfs, pos


def _brute(inc: dict, exc: dict, pre: int, post: int) -> dict[int, int]:
    out = {}
    for d, ps in inc.items():
        qs = exc.get(d, [])
        n = sum(
            1 for p in ps
            if not any(p - pre <= q <= p + post for q in qs)
        )
        if n:
            out[d] = n
    return out


def test_hand_case():
    # doc 4: include at [0, 5, 9]; exclude at [6] with pre=1/post=1 kills
    # only the occurrence at 5 → tf 2
    docs, tfs = _span_not_freqs(
        _parts({4: [0, 5, 9]}), _parts({4: [6]}), pre=1, post=1
    )
    assert docs.tolist() == [4] and tfs.tolist() == [2]


def test_no_exclude_passthrough():
    inc = _parts({1: [3], 2: [0, 7]})
    docs, tfs = _span_not_freqs(inc, _parts({}), pre=5, post=5)
    assert docs.tolist() == [1, 2] and tfs.tolist() == [1, 2]
    # exclude postings exist but in other docs only
    docs, tfs = _span_not_freqs(inc, _parts({9: [1]}), pre=5, post=5)
    assert docs.tolist() == [1, 2] and tfs.tolist() == [1, 2]


def test_all_removed_drops_doc():
    docs, tfs = _span_not_freqs(
        _parts({3: [5]}), _parts({3: [5]}), pre=0, post=0
    )
    assert docs.size == 0


def test_asymmetric_window():
    # pre=0, post=2: exclude BEFORE the include never removes it
    docs, tfs = _span_not_freqs(
        _parts({1: [10]}), _parts({1: [8]}), pre=0, post=2
    )
    assert docs.tolist() == [1]
    docs, _ = _span_not_freqs(
        _parts({1: [10]}), _parts({1: [12]}), pre=0, post=2
    )
    assert docs.size == 0


def test_random_parity_vs_brute_and_fallback():
    rng = np.random.default_rng(7)
    for trial in range(30):
        n_docs = int(rng.integers(1, 25))
        inc, exc = {}, {}
        for d in range(n_docs):
            if rng.random() < 0.85:
                inc[d] = sorted(
                    rng.choice(150, size=int(rng.integers(1, 10)), replace=False)
                )
            if rng.random() < 0.6:
                exc[d] = sorted(
                    rng.choice(150, size=int(rng.integers(1, 10)), replace=False)
                )
        if not inc:
            continue
        pre = int(rng.integers(0, 5))
        post = int(rng.integers(0, 5))
        ref = _brute(inc, exc, pre, post)
        docs_v, tfs_v = _span_not_freqs(_parts(inc), _parts(exc), pre, post)
        assert dict(zip(docs_v.tolist(), tfs_v.tolist())) == ref
        # wider windows, up to pre/post of 2³¹ and more, which the kernel
        # clamps to the position range
        for big_pre, big_post in (
            (pre + 100, post), (pre, post + 100), (2**31 + pre, post),
            (pre, 2**31 + post), (2**40, 2**40),
        ):
            ref_big = _brute(inc, exc, big_pre, big_post)
            docs_f, tfs_f = _span_not_freqs(
                _parts(inc), _parts(exc), big_pre, big_post
            )
            assert dict(zip(docs_f.tolist(), tfs_f.tolist())) == ref_big
