"""Block-structured posting-list codec: delta + varint, 128-doc blocks,
per-block max-impact metadata.

Analog of the reference's ``L/codecs/lucene84/Lucene84PostingsWriter.java``
(doc/freq/pos streams, 128-doc blocks) + ``L/codecs/CompetitiveImpactAccumulator``
(per-block impacts) + ``Lucene84SkipWriter`` (per-block skip entries). The
north rule standardizes on delta+varint for all blocks (Lucene's vInt wire
format; FOR/PFOR bit-packing of full blocks is a physical-layer variant with
identical semantics).

A segment's postings are one Arrow table, one row per term in term order:
``term``, ``df_part``, ``ttf_part`` and ``blocks``, a ``list<struct>``
column (``BLOCKS_TYPE``) whose struct fields are

  first_doc  int64   first docID in block  (skip entry)
  last_doc   int64   last docID in block   (skip entry — enables block skipping)
  n          int32   postings in block (<= 128)
  max_tf     int32   max term frequency in block       ┐ impact pair: BM25 block
  min_norm   int32   min norm byte (≘ shortest doc)    ┘ max-score upper bound
  docs_bytes bytes   varint(delta(docIDs)), first delta vs first_doc (== 0)
  tfs_bytes  bytes   varint(tf per doc)
  pos_bytes  bytes   varint(per-doc position deltas, concatenated doc-major;
                     tfs give the per-doc split points)

``encode_segment`` writes that table from a segment's (term, doc)-sorted
flat arrays and ``decode_segment`` reads it back, each over the whole
column at once: every stream is one varint pass over the segment, and the
``binary`` and ``list`` columns are built from offset buffers (Columnar
Formatted Inverted Index, ICDE 2025). ``encode_posting_blocks`` and
``decode_postings`` / ``decode_block`` are the one-term case, on a term's
block list as Python dicts (the form the scoring kernels read).

Scoring monotonicity (BM25: ↑tf, ↓length; norm byte is monotone in length)
makes the single (max_tf, min_norm) pair a valid upper bound for any
(tf, norm) in the block — the per-block max-impact the north rule names.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..util.varint import binary_bytes, decode_varints, encode_varints_sliced, offsets32

BLOCK_SIZE = 128

BLOCK_TYPE = pa.struct([
    ("first_doc", pa.int64()),
    ("last_doc", pa.int64()),
    ("n", pa.int32()),
    ("max_tf", pa.int32()),
    ("min_norm", pa.int32()),
    ("docs_bytes", pa.binary()),
    ("tfs_bytes", pa.binary()),
    ("pos_bytes", pa.binary()),
])
BLOCK_FIELDS = tuple(f.name for f in BLOCK_TYPE)
BLOCKS_TYPE = pa.list_(BLOCK_TYPE)


def encode_segment(
    terms: pa.Array | np.ndarray | list[str],
    term_starts: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    positions: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> pa.Table:
    """A segment's postings table from its flat postings.

    ``terms``: the segment's terms in order; term i owns postings
    ``term_starts[i]`` up to the next start. ``docs`` / ``tfs`` / ``norms``:
    one entry per (term, doc) posting, docs ascending within a term.
    ``positions``: every posting's positions, doc-major (posting j owns
    ``tfs[j]`` entries), or None to omit positions (DOCS_AND_FREQS). A
    term's blocks start at its first posting and every ``block_size``
    postings after it; every stream is one varint encode over the
    segment."""
    term_starts, docs, tfs, norms = (
        np.asarray(a, dtype=np.int64) for a in (term_starts, docs, tfs, norms)
    )
    bounds = np.append(term_starts, len(docs))
    n_blocks = -(-np.diff(bounds) // block_size)
    block_offs = np.concatenate(([0], np.cumsum(n_blocks)))
    term_of = np.repeat(np.arange(len(term_starts)), n_blocks)
    bstarts = term_starts[term_of] + (np.arange(block_offs[-1]) - block_offs[term_of]) * block_size
    bbounds = np.append(bstarts, len(docs))

    # doc deltas: per block, first delta is 0 (delta vs the block's first_doc)
    deltas = np.diff(docs, prepend=docs[:1])
    deltas[bstarts] = 0
    pos_splits = np.concatenate(([0], np.cumsum(tfs)))
    if positions is None or not len(positions):
        pos_deltas, pos_bounds = np.empty(0, dtype=np.int64), np.zeros_like(bbounds)
    else:
        # per-doc delta coding: first position absolute, rest deltas
        pos_deltas = np.diff(positions, prepend=np.int64(0))
        doc_starts = pos_splits[:-1][tfs > 0]
        pos_deltas[doc_starts] = positions[doc_starts]
        pos_bounds = pos_splits[bbounds]
    # per-block impacts via segmented reductions
    max_tf, min_norm = (
        (f.reduceat(v, bstarts) if len(bstarts) else v[:0])
        for f, v in ((np.maximum, tfs), (np.minimum, norms))
    )
    blocks = pa.StructArray.from_arrays([
        pa.array(docs[bstarts]), pa.array(docs[bbounds[1:] - 1]),
        *(pa.array(v, pa.int32()) for v in (np.diff(bbounds), max_tf, min_norm)),
        encode_varints_sliced(deltas, bbounds),
        encode_varints_sliced(tfs, bbounds),
        encode_varints_sliced(pos_deltas, pos_bounds),
    ], fields=list(BLOCK_TYPE))
    return pa.table({
        "term": pa.array(terms, type=pa.string()),
        "df_part": np.diff(bounds),
        "ttf_part": np.diff(pos_splits[bounds]),
        "blocks": pa.ListArray.from_arrays(pa.array(offsets32(block_offs)), blocks, type=BLOCKS_TYPE),
    })


def _undo_pos_deltas(pd_: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Inverse of the per-doc delta coding: a per-doc cumsum, i.e. the
    global cumsum minus its value just before each doc's start."""
    if not pd_.size:
        return pd_
    splits = np.concatenate(([0], np.cumsum(tfs)))
    csum = np.cumsum(pd_)
    prev = np.concatenate(([0], csum))[splits[:-1][tfs > 0]]
    return csum - np.repeat(prev, tfs[tfs > 0])


def flat_blocks(postings: pa.Table) -> tuple[np.ndarray, dict[str, pa.Array]]:
    """(per-term block offsets, {block field: its values over every block in
    term order})."""
    lists = postings["blocks"].combine_chunks()
    offs = lists.offsets.to_numpy().astype(np.int64)
    return offs - offs[0], dict(zip(BLOCK_FIELDS, lists.flatten().flatten()))


def decode_segment(postings: pa.Table, with_positions: bool = False):
    """Inverse of ``encode_segment`` → (term_starts, docs, tfs, positions):
    the same flat arrays, decoded with one varint pass per stream and
    segmented cumsums over the whole column. ``positions`` is None unless
    ``with_positions``. Blocks of any size decode, so a merged term's
    partial mid-list blocks do too."""
    block_offs, f = flat_blocks(postings)
    n = f["n"].to_numpy().astype(np.int64)
    post_offs = np.concatenate(([0], np.cumsum(n)))
    # within a block, docs = first_doc + the cumsum of deltas since its start
    # (its first delta is 0)
    csum = np.cumsum(decode_varints(binary_bytes(f["docs_bytes"])))
    docs = csum + np.repeat(f["first_doc"].to_numpy() - csum[post_offs[:-1]], n)
    tfs = decode_varints(binary_bytes(f["tfs_bytes"]))
    positions = (
        _undo_pos_deltas(decode_varints(binary_bytes(f["pos_bytes"])), tfs)
        if with_positions else None
    )
    return post_offs[block_offs[:-1]], docs, tfs, positions


def posting_terms(term_starts: np.ndarray, n_postings: int) -> np.ndarray:
    """Each posting's term index, from the terms' first postings."""
    return np.repeat(np.arange(len(term_starts)), np.diff(np.append(term_starts, n_postings)))


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    positions_flat: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """One term's postings (sorted by doc_id asc) as its block list — the
    one-term case of ``encode_segment``. positions_flat: all positions
    doc-major (row i owns tfs[i] entries), or None to omit positions."""
    return encode_segment(
        [""], [0], doc_ids, tfs, norms, positions_flat, block_size
    )["blocks"][0].as_py()


def decode_block(block: dict, with_positions: bool = False):
    """One block → (docs int64[], tfs int64[][, positions_flat int64[]]).

    positions_flat is doc-major; tfs give the per-doc splits.
    """
    docs = np.cumsum(decode_varints(block["docs_bytes"])) + np.int64(block["first_doc"])
    tfs = decode_varints(block["tfs_bytes"])
    if not with_positions:
        return docs, tfs
    return docs, tfs, _undo_pos_deltas(decode_varints(block["pos_bytes"]), tfs)


def decode_postings(blocks: list[dict], with_positions: bool = False):
    """Concatenate decoded arrays across a term's block list."""
    if not blocks:
        empty = np.empty(0, dtype=np.int64)
        return (empty, empty.copy(), empty.copy()) if with_positions else (empty, empty.copy())
    parts = [decode_block(b, with_positions) for b in blocks]
    return tuple(np.concatenate(cols) for cols in zip(*parts))
