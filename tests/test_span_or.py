"""SpanOrQuery occurrence counter parity vs a brute-force per-doc sum
(``L/search/spans/SpanOrQuery``: tf = total member occurrences). The
counter is the synonym clause's doc-level merge, ``_sum_postings``."""

import numpy as np

from lucene_solr_spark.search.kernels import _sum_postings


def _parts(per_doc: dict[int, int]) -> tuple:
    docs = np.array(sorted(per_doc), dtype=np.int64)
    tfs = np.array([per_doc[d] for d in docs], dtype=np.int64)
    return docs, tfs, np.empty(0, dtype=np.int64)


def test_hand_case():
    docs, tfs = _sum_postings([
        _parts({1: 2, 3: 1}), _parts({3: 4, 7: 1}), _parts({}),
    ])
    assert docs.tolist() == [1, 3, 7] and tfs.tolist() == [2, 5, 1]


def test_single_live_member_passthrough():
    docs, tfs = _sum_postings([_parts({}), _parts({5: 3})])
    assert docs.tolist() == [5] and tfs.tolist() == [3]
    # int64 tfs on the pass-through too: span_or scores stay bitwise
    one = _parts({5: 3})
    docs, tfs = _sum_postings([(one[0], one[1].astype(np.int32), one[2])])
    assert tfs.dtype == np.int64


def test_all_dead():
    docs, tfs = _sum_postings([_parts({}), _parts({})])
    assert docs.size == 0 and tfs.size == 0


def test_random_parity_vs_brute():
    rng = np.random.default_rng(11)
    for _ in range(20):
        members = []
        brute: dict[int, int] = {}
        for _m in range(int(rng.integers(1, 5))):
            per = {
                int(d): int(rng.integers(1, 6))
                for d in rng.choice(40, size=int(rng.integers(0, 15)),
                                    replace=False)
            }
            members.append(_parts(per))
            for d, c in per.items():
                brute[d] = brute.get(d, 0) + c
        docs, tfs = _sum_postings(members)
        assert dict(zip(docs.tolist(), tfs.tolist())) == brute
