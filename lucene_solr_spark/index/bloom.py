"""Per-segment term bloom filters — the Spark-first analog of Lucene's
``lucene/codecs/bloom/BloomFilteringPostingsFormat`` (FuzzySet per segment,
consulted before the terms-dictionary seek so a point lookup of an absent
term costs one bitset probe instead of an index walk).

Here the same "definitely absent" test prunes WHOLE SEGMENTS from the
postings scan: the build kernel writes a bloom over each segment's full
term dictionary (text + keyword terms) next to the segment's postings, and
the searcher intersects a query's scoring terms with every segment's bloom
before dealing segments to its scoring tasks — segments whose blooms reject
every scoring term get no task work at all, so a rare/absent term on a
10^4-segment index touches only the few segments that can contain it. False positives only cost an extra scan;
false negatives are impossible by construction, so results are bitwise
unchanged (property-tested in ``tests/test_bloom.py``).

Why not parquet's own column blooms: pyarrow (the posting writer) cannot
emit them at this version, and row-group min/max on a term dictionary that
spans the alphabet never excludes a point lookup. A dedicated sidecar is
also what the reference does — the bloom lives beside the postings file,
not inside the general-purpose storage layer.

Sizing follows the reference's defaults-by-saturation idea with a fixed
budget: ~10 bits/key (next power of two) and k=7 probes ≈ 0.8% false
positives — ~64 KiB per 50k-term segment, negligible next to postings.

Hashing: two independent 64-bit siphash streams over the UTF-8 term bytes
(``pandas.util.hash_array`` with fixed keys — process-stable, no
PYTHONHASHSEED exposure), combined Kirsch–Mitzenmacher style
(``h1 + i·h2``); h2 is forced odd so the stride is full-period on the
power-of-two table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BLOOM_BITS_PER_KEY = 10
BLOOM_K = 7
BLOOM_DIRNAME = "bloom"
# pandas.util.hash_array demands exactly-16-byte keys; two fixed, distinct
# keys give two independent hash streams over the same term bytes.
_H1_KEY = "lss-bloom-hash-1"
_H2_KEY = "lss-bloom-hash-2"


def _hashes(terms: list | np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(terms, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_H1_KEY, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=_H2_KEY, categorize=False)
    # odd stride => (h1 + i*h2) mod 2^b cycles the whole table
    return h1.astype(np.uint64), (h2.astype(np.uint64) | np.uint64(1))


def bloom_build(terms: list | np.ndarray) -> tuple[int, bytes]:
    """(m_bits, packed little-endian bitset) over the term list."""
    n = max(1, len(terms))
    m = 1 << int(np.ceil(np.log2(max(1024, BLOOM_BITS_PER_KEY * n))))
    bits = np.zeros(m, dtype=bool)
    if len(terms):
        h1, h2 = _hashes(terms)
        mask = np.uint64(m - 1)
        for i in range(BLOOM_K):
            bits[((h1 + np.uint64(i) * h2) & mask).astype(np.int64)] = True
    return m, np.packbits(bits, bitorder="little").tobytes()


def bloom_admits(bits: bytes | np.ndarray, m: int, terms: list) -> np.ndarray:
    """Per-term admit vector: False = DEFINITELY not in the segment's
    dictionary; True = possibly present (scan it)."""
    if not len(terms):
        return np.zeros(0, dtype=bool)
    packed = (
        np.frombuffer(bits, dtype=np.uint8)
        if isinstance(bits, (bytes, bytearray))
        else np.asarray(bits, dtype=np.uint8)
    )
    h1, h2 = _hashes(list(terms))
    mask = np.uint64(m - 1)
    out = np.ones(len(terms), dtype=bool)
    for i in range(BLOOM_K):
        idx = ((h1 + np.uint64(i) * h2) & mask).astype(np.int64)
        out &= ((packed[idx >> 3] >> (idx & 7)) & 1).astype(bool)
    return out
