"""Distributed segment merge — ``L/index/SegmentMerger#merge`` as two dealt
stages through the one segment writer.

Because docIDs are GLOBAL dense ranks (one contiguous range per segment,
bases increasing with segment id — see build.py), merging a base-contiguous
group of segments needs no ``MergeState.DocMap`` remap: a term's merged
posting list is the seg-ordered concatenation of its per-segment lists,
shifted into the output segment's local ids. Both stages are
``util/segscan.segment_scan`` jobs — no shuffle, no term as a key:

  phase 1  one task per (out_seg, salt) input sub-range. The salt splits a
           group's source segments into contiguous sub-ranges (the north
           rule's hot-term split: a hot term's postings re-encode in
           ``salt`` tasks at once). A task reads its sources' docs and
           postings files, shifts local ids by ``in_base − out_base``,
           re-encodes every term into fresh 128-doc blocks with exact
           impacts from the docs' ``norm`` column, and stages the term rows
           and the docs table under ``dst/_merge_staging``.
  phase 2  one task per output segment: stacks each term's staged block
           lists in salt order (no decode — mid-list partial blocks are
           legal), concatenates the docs tables and writes the segment with
           ``build.write_segment`` (``status="merged"``, real lineage).

Each output segment carries its sources' tombstones: a one-segment group
copies ``tombstones/seg=N`` with its files, and a phase-2 task writes its
segment's sources' deletes rebased to the output's local ids. The driver
then writes ``meta.json`` and ends in ``build._commit`` — global stats and
the open sentinel, the tail every writer shares; no segment file is
rewritten there, since ``build.read_manifest`` derives the bases.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..util.segscan import segment_scan
from .build import (
    MANIFEST_SCHEMA,
    SEGMENT_ROOTS,
    IndexMeta,
    _atomic_write,
    _commit,
    read_manifest,
    read_segment,
    write_segment,
)
from .codec import BLOCKS_TYPE, decode_segment, encode_segment
from .updates import (
    read_tombstones, tombstone_files, tombstones_path, write_tombstones,
)


def _copy_segment(src_dir: str, seg: int, dst_dir: str, new_seg: int) -> None:
    """File-copy segment ``seg`` of ``src_dir`` into ``dst_dir`` as
    ``new_seg``, its tombstones included: segment files hold only
    segment-local ids, so a copy is a complete segment whose base
    ``read_manifest`` derives at ``dst_dir``. The renumbered manifest marker
    is written last — the commit point."""
    dirs = [
        (os.path.join(src_dir, root, f"seg={seg}"), os.path.join(dst_dir, root, f"seg={new_seg}"))
        for root in SEGMENT_ROOTS
    ]
    for src, dst in [*dirs, (tombstones_path(src_dir, seg), tombstones_path(dst_dir, new_seg))]:
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
    marker = pq.read_table(os.path.join(src_dir, "manifest", f"seg={seg}.parquet"))
    marker = marker.set_column(
        marker.schema.get_field_index("seg"), "seg",
        pa.array([new_seg], type=marker.schema.field("seg").type),
    )
    os.makedirs(os.path.join(dst_dir, "manifest"), exist_ok=True)
    _atomic_write(marker, os.path.join(dst_dir, "manifest", f"seg={new_seg}.parquet"))


def _plan_groups(segs: list[int], n_out: int, plan: list[list[int]] | None) -> list[list[int]]:
    """The merge plan as base-ordered groups of base-ordered segment ids
    (``segs``: the source's ids, ascending — seg order is base order).
    ``plan=None`` cuts ``segs`` into ``n_out`` contiguous runs."""
    if plan is None:
        if n_out > len(segs):
            raise ValueError(f"n_out={n_out} > input segments {len(segs)}")
        per_out = -(-len(segs) // n_out)  # ceil
        return [segs[i:i + per_out] for i in range(0, len(segs), per_out)]
    plan = sorted(sorted(int(s) for s in g) for g in plan)
    if sorted(s for g in plan for s in g) != segs:
        raise ValueError("plan must partition the source segment ids")
    rank = {s: r for r, s in enumerate(segs)}
    for g in plan:
        # doc-contiguous output: the stable-global-docID layout's requirement
        if [rank[s] for s in g] != list(range(rank[g[0]], rank[g[0]] + len(g))):
            raise ValueError(f"plan group {g} is not base-contiguous")
    return plan


def _stage_subrange(
    src_dir: str,
    sub_dir: str,
    meta: IndexMeta,
    sources: list[int],
    shifts: list[int],
) -> None:
    """Phase-1 task: source segments ``sources`` (base order) re-encoded as
    one run of the output segment — local ids shifted by ``shifts``
    (``in_base − out_base``), every term's postings re-blocked with its
    docs' exact norms — staged as ``postings.parquet`` and ``docs.parquet``
    under ``sub_dir``."""
    docs_parts, flat = [], []
    for seg, shift in zip(sources, shifts):
        docs = read_segment(src_dir, "docs", seg)
        docs_parts.append(pa.table({
            **{c: docs[c] for c in (*meta.key_cols, *meta.keyword_cols)},
            "doc_local": pa.array(docs["doc_local"].to_numpy() + shift, type=pa.int64()),
            "length": docs["length"],
            "norm": docs["norm"],
        }))
        post = read_segment(src_dir, "postings", seg)
        term_starts, d, tfs, pos = decode_segment(post, with_positions=meta.positions)
        flat.append((
            post["term"].to_numpy(zero_copy_only=False), np.diff(np.append(term_starts, len(d))),
            d + shift, tfs, docs["norm"].to_numpy()[d], pos,
        ))
    terms, dfs, docs_l, tfs, norms, pos = (
        None if c[0] is None else np.concatenate(c) for c in zip(*flat)
    )
    # one vocab over the sources; a stable sort on the term code keeps each
    # term's postings in source (base) order, so docs stay ascending
    uniques, inv = np.unique(terms, return_inverse=True)
    codes = np.repeat(inv, dfs)
    order = np.argsort(codes, kind="stable")
    if pos is not None:  # each posting's positions move with it
        pos = pos[np.argsort(np.repeat(codes, tfs), kind="stable")]
    codes = codes[order]
    term_starts = np.flatnonzero(np.diff(codes, prepend=-1))
    os.makedirs(sub_dir, exist_ok=True)
    _atomic_write(
        encode_segment(uniques[codes[term_starts]], term_starts,
                       docs_l[order], tfs[order], norms[order], pos),
        os.path.join(sub_dir, "postings.parquet"),
    )
    _atomic_write(pa.concat_tables(docs_parts).combine_chunks(), os.path.join(sub_dir, "docs.parquet"))


def _write_merged(dst_dir: str, meta: IndexMeta, out_seg: int, sub_dirs: list[str]) -> dict:
    """Phase-2 task: output segment ``out_seg`` from its staged sub-ranges
    (salt order) — each term's block lists stacked with no re-blocking (the
    mid-list partial blocks are legal), the docs tables concatenated —
    written by ``write_segment``."""
    t0 = time.monotonic()
    docs = [pq.read_table(os.path.join(d, "docs.parquet")) for d in sub_dirs]
    post = pa.concat_tables(
        [pq.read_table(os.path.join(d, "postings.parquet")) for d in sub_dirs]
    ).combine_chunks()
    # each sub-range's rows are term-sorted: a stable sort by term puts a
    # term's rows together in salt order, and each run of equal terms is
    # one output row whose block list spans the run's lists
    terms = post["term"].to_numpy(zero_copy_only=False)
    order = np.argsort(terms, kind="stable")
    _, runs = np.unique(terms[order], return_index=True)
    post = post.take(order)
    bounds = np.append(runs, len(terms))
    lists = post["blocks"].combine_chunks()

    def run_sums(col: str) -> np.ndarray:
        return np.diff(np.append(0, np.cumsum(post[col].to_numpy()))[bounds])

    merged = pa.table({
        "term": post["term"].take(runs),
        "df_part": run_sums("df_part"),
        "ttf_part": run_sums("ttf_part"),
        "blocks": pa.ListArray.from_arrays(lists.offsets.take(bounds), lists.values, type=BLOCKS_TYPE),
    })
    return write_segment(
        dst_dir, out_seg, meta, pa.concat_tables(docs).combine_chunks(),
        merged, t0=t0, status="merged",
    )


def merge_segments(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    n_out: int = 1,
    salt: int = 4,
    plan: list[list[int]] | None = None,
) -> DataFrame:
    """Merge the committed segments of ``src_dir`` into doc-contiguous
    segments at ``dst_dir`` and return the manifest DataFrame (query
    results are invariant — tested property).

    ``n_out``: cut the segments (in base order) into ``n_out`` contiguous
    groups. ``plan``: an explicit merge plan instead — a partition of the
    source segment ids into base-contiguous groups (the
    ``MergePolicy.MergeSpecification`` analog; ``find_merges`` produces
    one). Each group becomes ONE output segment whose id is the group's
    smallest source id; a one-segment group is copied by file, byte for
    byte. ``salt``: how many sub-range tasks re-encode a group in phase 1.

    Tombstones carry over translated to the output ids — merge does not
    reclaim deletes (``updates.expunge_deletes`` does). A merge that fails
    part-way is re-run into the same ``dst_dir`` and ends in the same
    index: every file it writes is rewritten by the re-run. A ``dst_dir``
    holding segments this merge does not write is refused."""
    meta = IndexMeta.load(src_dir)
    manifest = read_manifest(src_dir)
    segs = [int(s) for s in manifest["seg"]]  # seg order == base order
    bases = dict(zip(segs, (int(b) for b in manifest["base"])))
    groups = _plan_groups(segs, n_out, plan)
    if os.path.realpath(dst_dir) == os.path.realpath(src_dir):
        raise ValueError("merge_segments writes a new index: dst_dir must not be src_dir")
    if not set(read_manifest(dst_dir)["seg"]) <= {g[0] for g in groups}:
        # a different merge's segments would stay committed next to ours
        raise ValueError(f"{dst_dir} holds segments this merge does not write")

    tombstone_files(src_dir)  # refuses a flat (pre-per-segment) tombstone file
    staging = os.path.join(dst_dir, "_merge_staging")
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(tombstones_path(dst_dir), ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    units: list[tuple[int, str, list[int]]] = []  # phase 1: (out_seg, staging dir, sources)
    for g in groups:
        if len(g) == 1:
            _copy_segment(src_dir, g[0], dst_dir, g[0])
            continue
        per_salt = -(-len(g) // salt)
        units += [
            (g[0], os.path.join(staging, f"seg={g[0]}", f"salt={j}"), g[i:i + per_salt])
            for j, i in enumerate(range(0, len(g), per_salt))
        ]

    def stage(i: int) -> None:
        out_seg, sub_dir, sources = units[i]
        _stage_subrange(
            src_dir, sub_dir, meta, sources, [bases[s] - bases[out_seg] for s in sources]
        )

    def write(out_seg: int) -> pa.Table:
        # the sources' deletes, rebased: (seg, local) → local + in_base − out_base
        dele = [
            d + bases[s] - bases[out_seg]
            for s in next(g for g in groups if g[0] == out_seg)
            if (d := read_tombstones(src_dir, s)) is not None
        ]
        write_tombstones(dst_dir, out_seg, np.concatenate(dele) if dele else None)
        sub_dirs = [d for o, d, _ in units if o == out_seg]
        return pa.Table.from_pylist([_write_merged(dst_dir, meta, out_seg, sub_dirs)])

    if units:
        segment_scan(spark, list(range(len(units))), stage, StructType.fromDDL("unit int")).collect()
        segment_scan(
            spark, sorted({u[0] for u in units}), write, StructType.fromDDL(MANIFEST_SCHEMA)
        ).collect()
    shutil.rmtree(staging, ignore_errors=True)

    dataclasses.replace(meta, n_segments=len(groups)).save(dst_dir)
    return _commit(spark, dst_dir)


def add_indexes(
    spark: SparkSession, src_dirs: list[str], dst_dir: str,
) -> int:
    """``IndexWriter#addIndexes(Directory...)`` analog: graft the LIVE
    (manifest-committed) segments of several source indexes into one new
    index WITHOUT touching a single posting byte — segments renumber in
    source order and copy by file (per-segment data is self-contained under
    segment-local ids, exactly why Lucene's addIndexes is a file-level
    operation), then the shared ``_commit`` tail re-finalizes the global
    stats (``read_manifest`` derives the new bases). Returns the number of
    segments grafted.

    Preconditions (asserted): identical analyzer/positions/keyword schema
    across sources (Lucene's same-FieldInfos requirement) and no pending
    tombstones or docvalues-update sidecars — expunge/merge first, the
    upstream guidance for addIndexes(Directory...) too.

    Scale shape: data files move by directory copy — on an object store /
    Iceberg this is a server-side copy or pure metadata commit, NOT a read
    of the postings; the only computed artifacts are the renumbered
    manifest markers (O(segments) pyarrow rows) and one ``_finalize`` pass
    for term_stats/stats, the same aggregate every build already pays."""
    metas = [IndexMeta.load(d) for d in src_dirs]
    m0 = metas[0]
    for m in metas[1:]:
        if (m.analyzer, m.positions, m.keyword_cols, m.text_col) != (
            m0.analyzer, m0.positions, m0.keyword_cols, m0.text_col
        ):
            raise ValueError("addIndexes: source index schemas differ")
    for d in src_dirs:
        for side in (tombstones_path(d), os.path.join(d, "dv_updates")):
            if os.path.isdir(side):
                raise ValueError(
                    f"addIndexes: {d} has pending {os.path.basename(side)}; "
                    "expunge/fold first"
                )

    os.makedirs(dst_dir, exist_ok=True)
    new_seg = 0
    for d in src_dirs:
        for seg in read_manifest(d)["seg"]:
            _copy_segment(d, int(seg), dst_dir, new_seg)
            new_seg += 1
    dataclasses.replace(m0, n_segments=new_seg).save(dst_dir)
    _commit(spark, dst_dir)
    return new_seg


def find_merges(
    sizes: list[tuple[int, int]],
    *,
    segs_per_tier: int = 10,
    max_merged_docs: int = 1 << 31,
    floor_docs: int | None = None,
) -> list[list[int]]:
    """``TieredMergePolicy#findMerges`` analog (documented subset): given
    ``(seg, n_docs)`` in base order, return a merge plan — groups of
    segments to fold into one — chosen by the tiered rule: a run of
    consecutive UNDERSIZED segments (n_docs < ``floor_docs``, the
    floorSegmentBytes analog; default max_merged_docs // segs_per_tier)
    merges once it reaches ``segs_per_tier`` members or when adding the
    next one would overflow ``max_merged_docs`` (the maxMergedSegmentMB
    analog — an output-size cap, a SEPARATE knob from the floor);
    oversized segments pass through untouched (TieredMergePolicy never
    rewrites a segment already at the max). Deviation from upstream,
    documented: candidates are restricted to base-CONTIGUOUS runs — the
    stable-global-docID layout requires doc-contiguous output segments —
    where upstream may cherry-pick non-adjacent segments; and the
    selection score (skew/size/reclaim) degenerates to first-fit over the
    run, since contiguity already fixes the candidate order."""
    ceiling = floor_docs if floor_docs is not None else max(
        1, max_merged_docs // segs_per_tier
    )
    plan: list[list[int]] = []
    run: list[int] = []
    run_docs = 0

    def flush() -> None:
        nonlocal run, run_docs
        if run:
            plan.append(run)
            run, run_docs = [], 0

    for seg, n in sizes:
        if n >= ceiling:
            flush()
            plan.append([seg])
            continue
        if run and (len(run) >= segs_per_tier or run_docs + n > max_merged_docs):
            flush()
        run.append(seg)
        run_docs += n
    flush()
    return plan


def tiered_merge(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    segs_per_tier: int = 10,
    max_merged_docs: int = 1 << 31,
    salt: int = 4,
) -> list[list[int]]:
    """Run one TieredMergePolicy round: select with ``find_merges`` over
    the committed segment sizes and execute the full plan with
    ``merge_segments``. Results are bitwise invariant (the merge
    property); the return value is the executed plan.

    Scale shape — the TieredMergePolicy cost model: ONLY the merged
    groups' bytes are read and rewritten; a segment the policy leaves
    alone is a one-segment group, which ``merge_segments`` copies by file —
    on an object store a server-side copy / metadata commit, the
    ``addIndexes`` economics — so a policy round over 10^12 docs costs
    O(bytes actually merged), not a full index rewrite. A round that
    selects nothing is a copy of the index directory."""
    manifest = read_manifest(src_dir)
    plan = find_merges(
        [(int(s), int(n)) for s, n in zip(manifest["seg"], manifest["n_docs"])],
        segs_per_tier=segs_per_tier, max_merged_docs=max_merged_docs,
    )
    if all(len(g) == 1 for g in plan):
        shutil.copytree(src_dir, dst_dir, dirs_exist_ok=True)
    else:
        merge_segments(spark, src_dir, dst_dir, salt=salt, plan=plan)
    return plan
