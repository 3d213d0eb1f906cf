"""UAX#29 word-break tokenizer — the StandardTokenizer non-ASCII path.

Implements the Unicode Text Segmentation word-boundary rules the reference
tokenizer compiles from JFlex (``L/analysis/standard/StandardTokenizerImpl.
jflex``, Lucene 8.x: "implements the Word Break rules from the Unicode Text
Segmentation algorithm, as specified in UAX#29"), with Lucene's token-type
emission policy:

- **word tokens**: maximal UAX#29 segments containing at least one
  ALetter / Hebrew_Letter / Numeric / Katakana / ExtendNumLet character —
  rules WB5-WB13b, including the two-character sandwich joins (apostrophes
  and mid dots between letters, ``3.1415``-style separators between digits,
  Hebrew single/double-quote rules) and WB4 Extend/Format/ZWJ transparency
  (combining marks ride with their base and are KEPT in the token text,
  exactly like the JFlex ``…Ex`` macros);
- **IDEOGRAPHIC / HIRAGANA**: one token per Han / Hiragana character
  (UAX#29 assigns them no joining class, and the reference grammar emits
  them as singles);
- **SOUTHEAST_ASIAN**: maximal runs of Line_Break=Complex_Context scripts
  (Thai, Lao, Myanmar, Khmer, Tai…) emit as ONE token — the reference's
  ``{ComplexContextEx}+`` rule (no dictionary segmentation, same as
  StandardTokenizer);
- everything else (punctuation, symbols, emoji, unpaired marks) is dropped;
- tokens longer than ``max_token_len`` (255, ``StandardTokenizer#
  maxTokenLength``) split into consecutive chunks, matching the ASCII
  path's ``{0,254}`` quantifier convention.

The codepoint → class table is run-length encoded in ``uax29_data.py``
(generated from the public Unicode property data by
``tools/gen_uax29_table.py``); classification is one vectorized
``np.searchsorted`` per text. The boundary rules themselves are evaluated
with numpy boolean algebra over the class sequence — no per-character
Python in the rule engine; only the final span slicing touches Python
strings. This is the per-row slow path's tokenizer (non-ASCII batches);
ASCII batches keep the byte-LUT fast path.

Dispatch note (documented deviation): pure-ASCII input rides the byte-LUT /
regex fast path, whose token rule is the repo's documented subset (alnum/
underscore runs with embedded apostrophes — no '.'/','/':' sandwich joins).
Non-ASCII input gets the full UAX#29 rules above, so ``3.14`` joins inside
a non-ASCII document but splits in a pure-ASCII one. Routing is decided
per row from the text content, so it is deterministic and identical across
the per-row and batched paths (parity-tested).
"""

from __future__ import annotations

import numpy as np

from .uax29_data import RUN_CLASSES, RUN_STARTS

# class ids — MUST match tools/gen_uax29_table.py
OTHER = 0
ALETTER = 1
HEBREW = 2
NUMERIC = 3
KATAKANA = 4
EXTENDNUMLET = 5
MIDLETTER = 6
MIDNUM = 7
MIDNUMLET = 8
SQ = 9
DQ = 10
COMPLEX = 11
EXTEND = 12
FORMAT = 13
HAN = 14
HIRAGANA = 15


def classify(cps: np.ndarray) -> np.ndarray:
    """codepoints (any int dtype) → uint8 word-break class ids."""
    idx = np.searchsorted(RUN_STARTS, cps, side="right") - 1
    return RUN_CLASSES[idx]


def tokenize(text: str, max_token_len: int = 255) -> list[str]:
    """text → token surfaces in order (the position is the list index)."""
    return tokenize_with_offsets(text, max_token_len)[0]


def _spans(cps: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Core rule engine: codepoints → (emitted span char-starts, char-ends
    exclusive, base-index starts). All numpy; shared by the per-text and
    batched faces."""
    cls = classify(cps)
    skip = (cls == EXTEND) | (cls == FORMAT)
    base_idx = np.flatnonzero(~skip)
    if base_idx.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    bc = cls[base_idx].astype(np.int16)
    n = len(bc)

    ah = (bc == ALETTER) | (bc == HEBREW)          # AHLetter
    nu = bc == NUMERIC
    ka = bc == KATAKANA
    enl = bc == EXTENDNUMLET
    word = ah | nu | ka | enl
    midl = (bc == MIDLETTER) | (bc == MIDNUMLET) | (bc == SQ)   # WB6/7 set
    midn = (bc == MIDNUM) | (bc == MIDNUMLET) | (bc == SQ)      # WB11/12 set
    hl = bc == HEBREW
    dq = bc == DQ
    cx = bc == COMPLEX

    if n > 1:
        a, b = slice(None, -1), slice(1, None)
        nobreak = (
            (ah[a] & ah[b])                       # WB5
            | (nu[a] & nu[b])                     # WB8
            | (ah[a] & nu[b]) | (nu[a] & ah[b])   # WB9, WB10
            | (ka[a] & ka[b])                     # WB13
            | (word[a] & enl[b])                  # WB13a
            | (enl[a] & word[b])                  # WB13b
            | (hl[a] & (bc[b] == SQ))             # WB7a
            | (cx[a] & cx[b])                     # {ComplexContextEx}+ run
        )
        if n > 2:
            m = slice(1, -1)
            tri_letter = ah[:-2] & midl[m] & ah[2:]            # WB6 + WB7
            tri_hebrew = hl[:-2] & dq[m] & hl[2:]              # WB7b + WB7c
            tri_num = nu[:-2] & midn[m] & nu[2:]               # WB11 + WB12
            tri = tri_letter | tri_hebrew | tri_num
            nobreak[:-1] |= tri     # link (i, i+1)
            nobreak[1:] |= tri      # link (i+1, i+2)
    else:
        nobreak = np.zeros(0, dtype=bool)

    starts = np.flatnonzero(np.concatenate(([True], ~nobreak)))
    # spans partition [0, n): emit test fully vectorized — any word-class
    # member (segment-sum via reduceat) OR a Han/Hiragana/Complex head
    has_word = np.add.reduceat(word.astype(np.int32), starts) > 0
    head = bc[starts]
    emit = has_word | (head == COMPLEX) | (head == HAN) | (head == HIRAGANA)
    # char range per span: first base char → char before the next base char
    # (trailing Extend/Format attach, per WB4)
    c0_all = base_idx[starts]
    c1_all = np.concatenate((base_idx[starts[1:]], [len(cps)]))
    return c0_all[emit], c1_all[emit], starts[emit]


def utf8_offsets(lengths: np.ndarray) -> np.ndarray:
    """Arrow ``utf8`` offsets (int32) of strings with byte ``lengths``. The
    total is summed in int64 first: past 2**31 − 1 bytes the int32 offsets
    would wrap silently, so that raises ``ValueError`` instead."""
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    if offs[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"{int(offs[-1])} token bytes exceed one Arrow utf8 array's "
            "2**31 - 1 byte offsets; tokenize fewer rows per batch"
        )
    return offs.astype(np.int32)


def tokenize_batch(texts: list[str], max_token_len: int = 255):
    """Fully-vectorized batch face: ONE '\\n'-joined scan, token surfaces
    materialized as an Arrow StringArray by BYTE GATHER from the joined
    UTF-8 buffer — no per-token Python strings (the dictionary-encode
    consumer touches Python only for the unique set). Returns
    (flat tokens pa.StringArray, row int64 array, pos int64 array).

    '\\n' is word-break class Other: no rule joins across it, so the
    joined scan tokenizes exactly like per-row scans (property-pinned)."""
    import pyarrow as pa

    joined = "\n".join(texts)
    if not joined:
        return (
            pa.array([], type=pa.utf8()),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
        )
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    c0, c1, _ = _spans(cps)

    # maxTokenLength: split the (rare) over-long spans into 255-char chunks
    clen = c1 - c0
    if clen.size and int(clen.max()) > max_token_len:
        pieces_c0: list[np.ndarray] = []
        pieces_c1: list[np.ndarray] = []
        for s, e in zip(c0.tolist(), c1.tolist()):
            if e - s <= max_token_len:
                pieces_c0.append(np.array([s]))
                pieces_c1.append(np.array([e]))
            else:
                cuts = np.arange(s, e, max_token_len)
                pieces_c0.append(cuts)
                pieces_c1.append(np.minimum(cuts + max_token_len, e))
        c0 = np.concatenate(pieces_c0)
        c1 = np.concatenate(pieces_c1)

    # char → UTF-8 byte offset map (vectorized byte-length classifier)
    blen = (
        np.ones(len(cps), dtype=np.int64)
        + (cps > 0x7F) + (cps > 0x7FF) + (cps > 0xFFFF)
    )
    boffs = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum(blen, out=boffs[1:])
    data = np.frombuffer(joined.encode("utf-8"), dtype=np.uint8)
    b0, b1 = boffs[c0], boffs[c1]

    # gather token bytes: +1/-1 range marking, cumsum > 0 membership mask —
    # one linear pass, adjacent tokens cancel cleanly at shared boundaries
    delta = np.zeros(len(data) + 1, dtype=np.int32)
    np.add.at(delta, b0, 1)
    np.add.at(delta, b1, -1)
    inside = np.cumsum(delta[:-1]) > 0
    tok_bytes = data[inside]
    flat = pa.Array.from_buffers(
        pa.utf8(), len(b0),
        [None, pa.py_buffer(utf8_offsets(b1 - b0)), pa.py_buffer(tok_bytes)],
    )

    # token → row by char offset against the row boundaries
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    row_starts = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=row_starts[1:])          # +1 per joining '\n'
    rows = np.searchsorted(row_starts, c0, side="right") - 1
    counts = np.bincount(rows, minlength=len(texts)).astype(np.int64)
    starts = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    pos = np.arange(len(rows), dtype=np.int64) - np.repeat(starts[:-1], counts)
    return flat, rows, pos


def tokenize_with_offsets(
    text: str, max_token_len: int = 255
) -> tuple[list[str], list[int]]:
    """(surfaces, start character offsets) — the per-text face over the
    shared ``_spans`` rule engine."""
    if not text:
        return [], []
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    c0s, c1s, _ = _spans(cps)
    out: list[str] = []
    offs: list[int] = []
    for c0, c1 in zip(c0s.tolist(), c1s.tolist()):
        surface = text[c0:c1]
        if len(surface) <= max_token_len:
            out.append(surface)
            offs.append(c0)
        else:
            for i in range(0, len(surface), max_token_len):
                out.append(surface[i:i + max_token_len])
                offs.append(c0 + i)
    return out, offs
