"""Vectorized varint (Lucene vInt) codec over numpy arrays.

Wire format matches ``L/store/DataOutput.java#writeVInt`` / ``readVInt``:
little-endian 7-bit groups, high bit = continuation (set on every byte
except the last of each value). Extended to 64-bit values (vLong) — same
format, up to 9 bytes for the 63-bit non-negative range used here.

Both directions are numpy-vectorized (no per-value Python loop): encode
loops over at most 9 *byte positions*, decode uses reduceat over
continuation-bit boundaries. Many slices of one encoded stream come back as
one Arrow ``binary`` array, built from an offsets buffer.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def _encode_core(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """→ (uint8 buffer, per-value end byte offsets)."""
    vals = np.asarray(values)
    if vals.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    if np.any(vals < 0):
        raise ValueError("varint values must be non-negative")
    vals = vals.astype(np.uint64)
    # number of 7-bit groups per value
    nbytes = np.ones(vals.shape, dtype=np.int64)
    tmp = vals >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp != 0)
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for k in range(9):
        sel = nbytes > k
        if not sel.any():
            break
        b = ((vals[sel] >> np.uint64(7 * k)) & _MASK7).astype(np.uint8)
        b[(nbytes[sel] - 1) > k] |= _CONT
        out[starts[sel] + k] = b
    return out, ends


def encode_varints(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints to concatenated varints."""
    out, _ = _encode_core(values)
    return out.tobytes()


def encode_varints_sliced(values: np.ndarray, bounds: np.ndarray) -> pa.BinaryArray:
    """ONE vectorized encode of ``values``, as a ``binary`` array whose
    element i is the value range ``bounds[i]:bounds[i+1]`` — the byte
    streams of many blocks from one pass, with no Python object per block."""
    out, ends = _encode_core(values)
    cuts = np.concatenate(([0], ends))[bounds]
    return pa.Array.from_buffers(pa.binary(), len(cuts) - 1, [
        None, pa.py_buffer(offsets32(cuts - cuts[0])), pa.py_buffer(out[cuts[0]:cuts[-1]]),
    ])


def offsets32(offsets: np.ndarray) -> np.ndarray:
    """Arrow ``binary`` / ``list`` offsets as int32, or OverflowError when
    the last (largest) one does not fit — never a silent wrap."""
    if len(offsets) and int(offsets[-1]) > 2**31 - 1:
        raise OverflowError(f"offset {int(offsets[-1])} exceeds the int32 range of Arrow offsets")
    return offsets.astype(np.int32)


def binary_bytes(arr: pa.BinaryArray) -> np.ndarray:
    """A ``binary`` (or ``large_binary``) array's values concatenated, as
    uint8 — the inverse of ``encode_varints_sliced``'s cut (a sliced
    array's offsets need not start at 0)."""
    data = arr.buffers()[2] if len(arr) else None
    if data is None:
        return np.empty(0, dtype=np.uint8)
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=width)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]]


def decode_varints(buf: bytes) -> np.ndarray:
    """Decode concatenated varints back to an int64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (raw & _CONT) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    shifts = (np.arange(raw.size, dtype=np.int64) - np.repeat(starts, lengths)) * 7
    contrib = (raw & np.uint8(0x7F)).astype(np.uint64) << shifts.astype(np.uint64)
    vals = np.add.reduceat(contrib, starts)
    return vals.astype(np.int64)
