"""Commit points — point-in-time snapshots of a live index, searchable
after later mutations (Lucene's ``L/index/SegmentInfos.java`` ``segments_N``
generations + ``L/index/SnapshotDeletionPolicy.java`` retention, consumed
reader-side via ``DirectoryReader.open(IndexCommit)``).

In Lucene every commit writes a new ``segments_N`` file naming the live
segment files and the per-segment deletes generation; a deletion policy
decides which older ``segments_N`` survive, and a reader opened on a
retained commit sees exactly that point in time. The storage model here is
already commit-shaped:

- segments are immutable once their manifest marker exists (append/update
  only ever ADD segments),
- tombstones are append-only per-segment parquet files
  (``updates.append_tombstones`` adds files, never rewrites one),
- only the derived global-stats tables (``stats``/``term_stats``/
  ``term_stats_rev``) are overwritten in place by ``refresh_stats``.

So a commit point = (generation, live segment ids, tombstone file list,
a retained copy of the three stats tables). ``commit_point`` captures all
four; ``IndexSearcher(..., commit=gen)`` then reconstructs the snapshot by
seg-partition-pruning every index scan to the recorded segments, loading
ONLY the recorded tombstone files, and binding scoring stats from the
retained copy — bitwise the same answers the live index gave at capture
time (pinned by ``tests/test_commits.py``).

Scale shape: a commit is a DRIVER-SIDE METADATA operation, exactly like
Lucene's (writing segments_N is not a Spark job). The seg/tombstone lists
are O(segments + tombstone files) rows of strings. The stats retention is
hardlink-first (``os.link`` per parquet file, byte-copy fallback for
filesystems without hardlinks), so snapshotting an O(vocabulary) stats
table costs O(files) metadata ops, not a data copy — the SnapshotDeletionPolicy
discipline of pinning existing immutable files rather than duplicating
them. The info row is written LAST, atomically: a crash mid-commit leaves
no visible generation (same contract as the per-segment manifest marker).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from .build import SEGMENT_ROOTS, read_manifest
from .updates import tombstone_files, tombstone_segs, tombstones_path

COMMITS_DIRNAME = "commits"
_STATS_TABLES = ("stats", "term_stats", "term_stats_rev")


def commits_path(index_dir: str) -> str:
    return os.path.join(index_dir, COMMITS_DIRNAME)


def list_commits(index_dir: str) -> list[int]:
    """Visible (fully written) generations, ascending — commits whose info
    row exists. Lucene: the surviving ``segments_N`` files."""
    out = []
    for p in glob.glob(os.path.join(commits_path(index_dir), "gen=*", "info.parquet")):
        m = re.search(r"gen=(\d+)", p)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


@dataclass(frozen=True)
class CommitInfo:
    gen: int
    segs: tuple[int, ...]         # live segments at capture time
    tomb_files: tuple[str, ...]   # tombstone parquet files, index-relative
    stats_dir: str                # retained stats root (…/commits/gen=N)


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def commit_point(index_dir: str) -> int:
    """Capture the index's current live state as the next generation and
    return it. No Spark job: reads directory listings, hardlinks the stats
    files, writes one info row last."""
    gens = list_commits(index_dir)
    gen = (gens[-1] + 1) if gens else 1
    gdir = os.path.join(commits_path(index_dir), f"gen={gen}")
    os.makedirs(gdir, exist_ok=True)

    segs = [int(s) for s in read_manifest(index_dir)["seg"]]
    if not segs:
        raise ValueError(f"no committed segments under {index_dir!r}")

    tomb_files = tombstone_files(index_dir)

    # retain the mutable stats tables (hardlink per file — pin, don't copy)
    for name in _STATS_TABLES:
        src = os.path.join(index_dir, name)
        if not os.path.isdir(src):
            continue
        dst = os.path.join(gdir, name)
        os.makedirs(dst, exist_ok=True)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            _link_or_copy(f, os.path.join(dst, os.path.basename(f)))

    pq.write_table(
        pa.table(
            {
                "gen": pa.array([gen], type=pa.int32()),
                "segs": pa.array([segs], type=pa.list_(pa.int32())),
                "tomb_files": pa.array([list(tomb_files)], type=pa.list_(pa.string())),
            }
        ),
        os.path.join(gdir, "info.parquet"),
    )
    return gen


def rollback_to(index_dir: str, gen: int) -> CommitInfo:
    """Restore the LIVE index to retained generation ``gen`` —
    ``IndexWriter#rollback`` onto an ``IndexCommit`` plus
    ``L/index/IndexFileDeleter`` dropping the files nothing references
    anymore. Steps, ordered so a crash mid-way never leaves a visible but
    broken state:

    1. drop commit generations NEWER than ``gen`` (their info rows — no
       reader can open them once gone),
    2. remove manifest markers of segments not in the commit (the segments
       vanish from every directory listing a reader or ``append_batch``
       consults),
    3. remove tombstone files appended after the capture,
    4. restore the three stats tables from the commit's retained copies,
    5. delete the orphaned segment data dirs last (``build.SEGMENT_ROOTS``)
       — pure space reclamation by then, and necessary so a later
       ``append_batch`` can reuse the freed segment ids without mixing old
       files into a partition.

    Older generations stay valid: segments are append-only, so an older
    commit's seg list is a subset of ``gen``'s, and its tombstone files are
    a prefix of ``gen``'s. No file holds a base: ``read_manifest`` derives
    them from the markers left, and dropping a SUFFIX of segments leaves
    every retained base unchanged."""
    info = load_commit(index_dir, gen)

    for g in list_commits(index_dir):
        if g > gen:
            gd = os.path.join(commits_path(index_dir), f"gen={g}")
            # info row first (the generation stops being openable), then the
            # retained stats hardlinks — pure space reclamation
            os.remove(os.path.join(gd, "info.parquet"))
            shutil.rmtree(gd, ignore_errors=True)

    keep = set(info.segs)
    drop_segs = [int(s) for s in read_manifest(index_dir)["seg"] if int(s) not in keep]
    for s in drop_segs:
        os.remove(os.path.join(index_dir, "manifest", f"seg={s}.parquet"))

    keep_tombs = set(info.tomb_files)
    for f in tombstone_files(index_dir):
        if f not in keep_tombs:
            os.remove(os.path.join(index_dir, f))

    for name in _STATS_TABLES:
        retained = os.path.join(info.stats_dir, name)
        live = os.path.join(index_dir, name)
        if not os.path.isdir(retained):
            continue
        if os.path.isdir(live):
            shutil.rmtree(live)
        os.makedirs(live, exist_ok=True)
        for f in glob.glob(os.path.join(retained, "*.parquet")):
            _link_or_copy(f, os.path.join(live, os.path.basename(f)))

    for s in drop_segs:
        for d in SEGMENT_ROOTS:
            p = os.path.join(index_dir, d, f"seg={s}")
            if os.path.isdir(p):
                shutil.rmtree(p)
        shutil.rmtree(tombstones_path(index_dir, s), ignore_errors=True)

    # the restored stats tables match the restored manifest/tombstone state
    # exactly (they were retained together at capture), so re-stamp the
    # open-fast-path sentinel — no _finalize recompute needed
    from .build import stamp_finalize_done

    stamp_finalize_done(index_dir)
    return info


def load_commit(index_dir: str, gen: int) -> CommitInfo:
    gdir = os.path.join(commits_path(index_dir), f"gen={gen}")
    info = os.path.join(gdir, "info.parquet")
    if not os.path.exists(info):
        raise FileNotFoundError(
            f"no commit generation {gen} under {index_dir!r} "
            f"(have: {list_commits(index_dir)})"
        )
    t = pq.read_table(info)
    tomb_files = tuple(t.column("tomb_files")[0].as_py())
    tombstone_segs(tomb_files)  # a flat (pre-per-segment) file raises
    return CommitInfo(
        gen=int(t.column("gen")[0].as_py()),
        segs=tuple(t.column("segs")[0].as_py()),
        tomb_files=tomb_files,
        stats_dir=gdir,
    )
