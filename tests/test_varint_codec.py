"""Posting codec round-trip properties (SURVEY.md §5.2-4), block boundaries
at 128 exercised — BasePostingsFormatTestCase analog."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.index.codec import (
    BLOCK_SIZE,
    BLOCKS_TYPE,
    decode_block,
    decode_postings,
    decode_segment,
    encode_posting_blocks,
    encode_segment,
)
from lucene_solr_spark.util.varint import decode_varints, encode_varints, offsets32


def test_varint_empty():
    assert encode_varints(np.array([], dtype=np.int64)) == b""
    assert decode_varints(b"").size == 0


def test_varint_lucene_wire_format():
    # writeVInt examples: 127 → 0x7F; 128 → 0x80 0x01; 300 → 0xAC 0x02
    assert encode_varints(np.array([127])) == b"\x7f"
    assert encode_varints(np.array([128])) == b"\x80\x01"
    assert encode_varints(np.array([300])) == b"\xac\x02"
    assert encode_varints(np.array([0])) == b"\x00"


@given(st.lists(st.integers(min_value=0, max_value=2**62 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    out = decode_varints(encode_varints(arr))
    np.testing.assert_array_equal(out, arr)


@given(
    st.integers(min_value=1, max_value=400),       # n postings (crosses 128/256)
    st.integers(min_value=0, max_value=10**10),    # doc id base (big-scale ids)
    st.integers(min_value=0, max_value=999),       # seed
)
@settings(max_examples=60, deadline=None)
def test_posting_blocks_roundtrip(n, base, seed):
    rng = np.random.default_rng(seed)
    docs = base + np.cumsum(rng.integers(1, 1000, size=n))
    tfs = rng.integers(1, 20, size=n)
    norms = rng.integers(0, 256, size=n)
    pos = np.concatenate([
        np.sort(rng.choice(5000, size=int(t), replace=False)) for t in tfs
    ])
    blocks = encode_posting_blocks(docs, tfs, norms, pos)
    assert len(blocks) == -(-n // BLOCK_SIZE)
    d2, t2, p2 = decode_postings(blocks, with_positions=True)
    np.testing.assert_array_equal(d2, docs)
    np.testing.assert_array_equal(t2, tfs)
    np.testing.assert_array_equal(p2, pos)
    # impact + skip metadata invariants
    k = 0
    for b in blocks:
        sl = slice(k, k + b["n"])
        assert b["first_doc"] == docs[sl.start]
        assert b["last_doc"] == docs[sl.stop - 1]
        assert b["max_tf"] == tfs[sl].max()
        assert b["min_norm"] == norms[sl].min()
        k += b["n"]


def test_posting_blocks_no_positions():
    docs = np.arange(10, 300, 2, dtype=np.int64)
    tfs = np.ones(len(docs), dtype=np.int64)
    norms = np.full(len(docs), 7)
    blocks = encode_posting_blocks(docs, tfs, norms, None)
    d2, t2 = decode_postings(blocks)
    np.testing.assert_array_equal(d2, docs)
    np.testing.assert_array_equal(t2, tfs)
    assert all(b["pos_bytes"] == b"" for b in blocks)


def _segment(sizes, seed, positions):
    """Flat (term, doc)-sorted postings of one term per size, and each
    term's own ``encode_posting_blocks``."""
    rng = np.random.default_rng(seed)
    terms, starts, cols, per_term = [], [], ([], [], [], []), []
    for i, n in enumerate(sizes):
        docs = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=n)
        norms = rng.integers(0, 256, size=n)
        pos = np.concatenate([
            np.sort(rng.choice(3000, size=int(t), replace=False)) for t in tfs
        ]).astype(np.int64) if positions and n else np.empty(0, dtype=np.int64)
        terms.append(f"t{i:04d}")
        starts.append(sum(sizes[:i]))
        for c, v in zip(cols, (docs, tfs, norms, pos)):
            c.append(v)
        per_term.append(encode_posting_blocks(docs, tfs, norms, pos if positions else None))
    flat = [np.concatenate([np.empty(0, dtype=np.int64), *c]) for c in cols]
    return terms, np.array(starts, dtype=np.int64), flat, per_term


@pytest.mark.parametrize("positions", [True, False])
def test_encode_segment_equals_per_term_blocks(positions):
    sizes = [1, 127, 128, 129, 257, 3, 1, 256, 40]
    terms, starts, (docs, tfs, norms, pos), per_term = _segment(sizes, 5, positions)
    seg = encode_segment(terms, starts, docs, tfs, norms, pos if positions else None)
    assert seg["blocks"].combine_chunks().equals(pa.array(per_term, type=BLOCKS_TYPE))
    assert seg["term"].to_pylist() == terms
    assert seg["df_part"].to_pylist() == sizes
    assert seg["ttf_part"].to_pylist() == [int(t.sum()) for t in np.split(tfs, starts[1:])]

    got_starts, d2, t2, p2 = decode_segment(seg, with_positions=positions)
    np.testing.assert_array_equal(got_starts, starts)
    np.testing.assert_array_equal(d2, docs)
    np.testing.assert_array_equal(t2, tfs)
    if positions:
        np.testing.assert_array_equal(p2, pos)
    else:
        assert p2 is None and all(
            b["pos_bytes"] == b"" for t in seg["blocks"].to_pylist() for b in t
        )


def test_encode_segment_empty():
    empty = np.empty(0, dtype=np.int64)
    seg = encode_segment([], empty, empty, empty, empty, empty)
    assert seg.num_rows == 0 and seg["blocks"].type == BLOCKS_TYPE
    starts, docs, tfs, pos = decode_segment(seg, with_positions=True)
    assert starts.size == docs.size == tfs.size == pos.size == 0


def test_decode_segment_stacked_partial_blocks():
    """A salted merge stacks block lists: a term's mid-list blocks may hold
    fewer than 128 postings, and they decode all the same."""
    terms, starts, (docs, tfs, norms, pos), per_term = _segment([130, 5], 9, True)
    shifted = encode_posting_blocks(docs[130:] + 10**7, tfs[130:], norms[130:], pos[-tfs[130:].sum():])
    seg = pa.table({"blocks": pa.array([per_term[0] + shifted], type=BLOCKS_TYPE)})
    got_starts, d2, t2, p2 = decode_segment(seg, with_positions=True)
    np.testing.assert_array_equal(got_starts, [0])
    np.testing.assert_array_equal(d2, np.concatenate([docs[:130], docs[130:] + 10**7]))
    np.testing.assert_array_equal(t2, tfs)
    np.testing.assert_array_equal(p2, pos)


def test_offsets32_refuses_to_wrap():
    ok = np.array([0, 5, 2**31 - 1], dtype=np.int64)
    assert offsets32(ok).dtype == np.int32 and offsets32(ok)[-1] == 2**31 - 1
    with pytest.raises(OverflowError, match="int32"):
        offsets32(np.array([0, 2**30, 2**31], dtype=np.int64))
