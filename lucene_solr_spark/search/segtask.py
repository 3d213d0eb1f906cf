"""Per-segment scoring tasks — the executor side of every scored search.

A search runs as ONE ``util.segscan.segment_scan`` stage: the
bloom-admitted segments are dealt round-robin to
``n = min(segments, defaultParallelism)`` tasks, and each task opens its
segments' files itself:

- the ``postings/seg=N`` rows of the query's terms (parquet row-group
  pruning on the term-sorted files), from one or more postings sources;
- the ``seg_norms/seg=N`` norm bytes (the segment's base rides in
  ``SegmentFiles.bases``, derived from the manifest when the searcher
  opened);
- the segment's tombstones, through ``index/updates.read_tombstones``
  restricted to the searcher's snapshot of tombstone files;
- for a keyed top-k, the key columns of only its ≤k survivors from
  ``docs/seg=N`` (fetch-fields-late without a join).

No shuffle feeds the scoring kernel: segment files are already segment
local, so a task reads exactly what it scores (the ICDE 2025 columnar
inverted index shape). Every pyarrow read below runs inside an executor on
one segment's files, which the ``# executor-read`` marker records for the
driver-read guard in ``tests/test_no_driver_reads.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq  # executor-read

from ..index.updates import read_tombstones


@dataclass(frozen=True)
class PostingsSource:
    """One postings tree a task reads: ``terms`` as stored there, renamed
    to the kernel's term names through ``alias`` (a masked field's term
    rides the kernel under a synthetic name)."""

    index_dir: str
    terms: tuple[str, ...]
    alias: dict[str, str] | None = None


@dataclass(frozen=True)
class SegmentFiles:
    """Everything a task needs to open a segment — built on the driver,
    shipped in the task closure. ``bases``: {seg: base} of the searcher's
    view. ``tomb_files``: the searcher's tombstone files (index-relative);
    each task reads only its own segment's."""

    index_dir: str
    sources: tuple[PostingsSource, ...]
    bases: dict[int, int]
    tomb_files: tuple[str, ...] = ()
    key_cols: tuple[str, ...] = ()


@dataclass
class Segment:
    base: int
    norms: np.ndarray
    term_blocks: dict[str, list]
    dele: np.ndarray | None


def _seg_dir(index_dir: str, table: str, seg: int) -> str:
    return os.path.join(index_dir, table, f"seg={seg}")


def read_postings(src: PostingsSource, seg: int) -> dict[str, list]:
    """{kernel term: block list} for ``src.terms`` present in segment
    ``seg`` — a term-IN filtered read of that segment's files only."""
    path = _seg_dir(src.index_dir, "postings", seg)
    if not src.terms or not os.path.isdir(path):
        return {}
    t = pq.read_table(  # executor-read
        path, columns=["term", "blocks"], filters=[("term", "in", list(src.terms))]
    )
    terms = t["term"].to_pylist()
    if src.alias is not None:
        terms = [src.alias[x] for x in terms]
    return dict(zip(terms, t["blocks"].to_pylist()))


def open_segment(files: SegmentFiles, seg: int) -> Segment | None:
    """The segment's postings, norms and deletes — None when none of the
    query's terms occur in it (no kernel can match there)."""
    term_blocks: dict[str, list] = {}
    for src in files.sources:
        term_blocks.update(read_postings(src, seg))
    if not term_blocks:
        return None
    norms = pq.read_table(  # executor-read
        _seg_dir(files.index_dir, "seg_norms", seg), columns=["norms"]
    )
    return Segment(
        base=files.bases[seg],
        norms=np.frombuffer(norms["norms"][0].as_py(), dtype=np.uint8),
        term_blocks=term_blocks,
        dele=read_tombstones(files.index_dir, seg, files.tomb_files),
    )


def fetch_keys(files: SegmentFiles, seg: int, local_ids: np.ndarray) -> pa.Table:
    """Key columns of ``local_ids`` (in that order) from ``docs/seg=N`` —
    the ≤k survivors only."""
    t = pq.read_table(  # executor-read
        _seg_dir(files.index_dir, "docs", seg),
        columns=[*files.key_cols, "doc_local"],
        filters=[("doc_local", "in", local_ids.tolist())],
    )
    idx = pc.index_in(pa.array(local_ids, type=pa.int64()), value_set=t["doc_local"])
    return t.select(list(files.key_cols)).take(idx)
