"""Deletes and updates — per-segment tombstone files + delete-and-re-add on
the doc key.

Reference semantics: ``L/index/PendingDeletes`` (per-segment live-docs bitset
consulted by every scorer, stored as the segment's ``.liv`` file),
``S/update/DirectUpdateHandler2#addDoc`` (an update on the uniqueKey is
delete + re-add; the re-added doc lands in a new segment with a new internal
id). Spark shape:

- ``tombstones/seg=N/`` holds segment N's deleted local ids (one
  ``doc_local`` column), one file per delete batch — next to the segment's
  ``postings/``, ``docs/``, ``seg_norms/`` and ``bloom/`` directories. The
  (seg, local) pair is STABLE (immune to base renumbering on append).
  This module owns the layout: ``read_tombstones`` is its one reader, run
  inside the task that already works on the segment (scoring, the stats
  removal pass, expunge, merge, CheckIndex), so no delete set is collected
  to the driver or broadcast; the kernels exclude the ids before top-k
  (kernels._merge_excl). A flat ``tombstones/*.parquet`` file (the layout
  before deletes were per segment) raises ``TombstoneLayoutError``.
- ``delete_docs`` resolves doc keys → (seg, doc_local) with one broadcast
  join against the docs table (seg-pruned columnar scan), appends the
  tombstone delta, and refreshes global stats.
- ``update_docs`` = delete_docs(keys) + append_batch(new rows): re-added
  docs get fresh internal ids after all existing segments (Lucene's
  monotone docID discipline), so (conv_id, turn_idx)-keyed text equality is
  preserved for the LIVE copy only.
- Stats refresh (unlike classic Lucene, which keeps stale df until merge):
  ``refresh_stats`` adds what the deleted docs contribute, negated, to the
  index-wide sums — per-term df/ttf and per-segment doc counts/lengths from
  one dealt pass over the segments with deletes (``tombstone_removals``) —
  so BM25 scores after an update equal a fresh build over the post-update
  corpus (the driver-checked invariant in ``ft_after_update_topk``).

Scale notes: a tombstone file is O(deleted docs of one segment) rows; the
removal pass touches only segments with deletes and only decodes doc-id
streams (no positions, no scores). At 10^12 docs with heavy churn you would
run ``merge_segments`` periodically and rewrite the lagging segments; the
delta refresh here is the between-merges path.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time
from typing import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..util.segscan import segment_scan
from .build import (
    MANIFEST_SCHEMA,
    SEGMENT_ROOTS,
    IndexMeta,
    _atomic_write,
    _commit,
    _finalize,
    global_docs,
    read_manifest,
    read_segment,
    write_segment,
)
from .codec import decode_segment, encode_segment, posting_terms

TOMBSTONE_SCHEMA = "seg int, doc_local long"
# what the deleted docs contribute, negated: per-term rows and per-segment
# doc rows, unioned into _finalize's sums
REMOVED_TERMS_SCHEMA = "term string, df_part long, ttf_part long"
REMOVED_DOCS_SCHEMA = "n long, has_field long, length long"
_SEG_FILE = re.compile(r"tombstones/seg=(\d+)/[^/]+\.parquet")


class TombstoneLayoutError(ValueError):
    """A tombstone file outside every ``tombstones/seg=N/`` directory — the
    flat layout written before deletes were per segment. No per-segment
    reader sees it, so its deleted docs would silently come back; the index
    is refused instead (rebuild it, or re-apply its deletes)."""


def tombstones_path(index_dir: str, seg: int | None = None) -> str:
    """The tombstones root of ``index_dir``, or segment ``seg``'s directory."""
    root = os.path.join(index_dir, "tombstones")
    return root if seg is None else os.path.join(root, f"seg={seg}")


def tombstone_segs(files: Iterable[str]) -> list[int]:
    """The segments ``files`` (index-relative tombstone paths) hold deletes
    for, ascending. A file outside a ``seg=N`` directory raises."""
    segs = set()
    for f in files:
        m = _SEG_FILE.fullmatch(f.replace(os.sep, "/"))
        if m is None:
            raise TombstoneLayoutError(
                f"tombstone file {f!r} is not under tombstones/seg=N/ "
                "(the flat pre-per-segment layout)"
            )
        segs.add(int(m.group(1)))
    return sorted(segs)


def tombstone_files(index_dir: str) -> tuple[str, ...]:
    """Every tombstone file of ``index_dir``, index-relative and sorted — a
    directory listing, no read: what a commit point records and a searcher
    snapshots at open. Raises ``TombstoneLayoutError`` on a flat file."""
    root = tombstones_path(index_dir)
    files = sorted(
        os.path.relpath(p, index_dir)
        for pat in ("*.parquet", os.path.join("seg=*", "*.parquet"))
        for p in glob.glob(os.path.join(root, pat))
    )
    tombstone_segs(files)
    return tuple(files)


def read_tombstones(
    index_dir: str, seg: int, files: Iterable[str] | None = None
) -> np.ndarray | None:
    """Sorted unique deleted local ids of segment ``seg``, or None — the one
    reader of the layout, called inside the task that works on the segment.
    ``files``: a view's recorded tombstone files (index-relative, e.g. a
    commit point's); only those under ``seg``'s directory are read. None
    reads every file there."""
    seg_dir = tombstones_path(index_dir, seg)
    if files is None:
        paths = glob.glob(os.path.join(seg_dir, "*.parquet"))
    else:
        prefix = os.path.relpath(seg_dir, index_dir) + os.sep
        paths = [os.path.join(index_dir, f) for f in files if f.startswith(prefix)]
    if not paths:
        return None
    ids = np.unique(np.concatenate([
        pq.read_table(p, columns=["doc_local"])["doc_local"].to_numpy() for p in paths
    ]).astype(np.int64))
    return ids if ids.size else None


def write_tombstones(index_dir: str, seg: int, ids: np.ndarray | None) -> None:
    """Replace segment ``seg``'s tombstones by ``ids`` (sorted, unique) in
    one file — no file when ``ids`` is empty. The in-task writer."""
    seg_dir = tombstones_path(index_dir, seg)
    shutil.rmtree(seg_dir, ignore_errors=True)
    if ids is not None and len(ids):
        os.makedirs(seg_dir)
        _atomic_write(
            pa.table({"doc_local": pa.array(ids, type=pa.int64())}),
            os.path.join(seg_dir, "part-0.parquet"),
        )


def append_tombstones(rows: DataFrame, index_dir: str) -> None:
    """Append (seg, doc_local) ``rows`` as new files under
    ``tombstones/seg=N/`` — the distributed writer of a delete batch. Each
    task writes one file per segment it holds, so ``rows`` hash-partitioned
    by seg give one file per segment."""
    rows.write.mode("append").partitionBy("seg").parquet(tombstones_path(index_dir))


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(seg, doc_local) of every delete, for distributed joins — one dealt
    stage of ``read_tombstones`` over the segments with deletes; None when
    the index has none."""
    segs = tombstone_segs(tombstone_files(index_dir))
    if not segs:
        return None

    def read(seg: int) -> pa.Table | None:
        ids = read_tombstones(index_dir, seg)
        if ids is None:
            return None
        return pa.table({"seg": np.full(len(ids), seg, dtype=np.int32), "doc_local": ids})

    return segment_scan(spark, segs, read, StructType.fromDDL(TOMBSTONE_SCHEMA))


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    keys: DataFrame,
    *,
    refresh: bool = True,
) -> int:
    """Tombstone every doc whose key appears in ``keys`` (columns =
    meta.key_cols). Returns the number of newly tombstoned docs; docs
    already deleted are not written again (``_commit_tombstones``)."""
    meta = IndexMeta.load(index_dir)
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    hit = (
        docs.join(F.broadcast(keys.select(*meta.key_cols)), list(meta.key_cols))
        .select(F.col("seg").cast("int").alias("seg"), F.col("doc_local").cast("long").alias("doc_local"))
    )
    return _commit_tombstones(spark, index_dir, hit, refresh=refresh)


def delete_by_query_hits(
    spark: SparkSession,
    index_dir: str,
    hits: DataFrame,
    *,
    refresh: bool = True,
) -> int:
    """Delete-by-query (``S/update/DirectUpdateHandler2#deleteByQuery``):
    tombstone every doc in ``hits`` — the UNRANKED match set of a query
    (``IndexSearcher.hits``). Unlike key deletes, a broad DBQ can match a
    large fraction of the corpus, so the global-docID → (seg, doc_local)
    mapping joins DISTRIBUTED against ``build.global_docs`` (only the tiny
    (seg, base) relation broadcasts; the hit set itself never touches the
    driver)."""
    hit = (
        global_docs(spark, index_dir, read_manifest(index_dir))
        .join(hits.select("doc_id"), "doc_id")
        .select(
            F.col("seg").cast("int").alias("seg"),
            F.col("doc_local").cast("long").alias("doc_local"),
        )
    )
    return _commit_tombstones(spark, index_dir, hit, refresh=refresh)


def _commit_tombstones(
    spark: SparkSession, index_dir: str, hit: DataFrame, *, refresh: bool
) -> int:
    """Shared delete tail: anti-join out docs already tombstoned (so the
    return value means NEWLY deleted and the files stay O(distinct deleted
    docs) under repeated deletes — IndexWriter#deleteDocuments is
    idempotent), append, refresh stats."""
    existing = tombstones_df(spark, index_dir)
    if existing is not None:
        hit = hit.join(existing, ["seg", "doc_local"], "left_anti")
    # hashed by seg: the distinct needs no second shuffle, and each
    # segment's rows sit in one task (one file per segment per batch)
    hit = hit.repartition("seg").distinct().cache()
    n = hit.count()
    if n:
        append_tombstones(hit, index_dir)
        if refresh:
            refresh_stats(spark, index_dir)
    hit.unpersist()
    return int(n)


def update_docs(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    *,
    n_segments: int | None = None,
) -> DataFrame:
    """Delete + re-add on the doc key (DirectUpdateHandler2#addDoc): rows in
    ``df`` replace any existing docs with the same key. Returns the updated
    manifest. Stats are refreshed once, after the append (append_batch's
    _finalize is tombstone-aware)."""
    from .build import append_batch

    delete_docs(spark, index_dir, df, refresh=False)
    return append_batch(spark, df, index_dir, n_segments=n_segments)


def refresh_stats(spark: SparkSession, index_dir: str) -> None:
    _finalize(spark, index_dir)


def tombstone_removals(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame] | None:
    """What the deleted docs contribute to the index-wide sums, negated, for
    ``build._finalize`` to union in: per-term ``REMOVED_TERMS_SCHEMA`` rows
    (−df, −ttf) and per-segment ``REMOVED_DOCS_SCHEMA`` rows (−docs, −docs
    with the field, −length). Two dealt stages over the segments with
    deletes; each task reads its segment's tombstones and decodes its doc-id
    streams only (no positions). None when the index has no deletes."""
    segs = tombstone_segs(tombstone_files(index_dir))
    if not segs:
        return None

    def terms(seg: int) -> pa.Table:
        post = read_segment(index_dir, "postings", seg)
        term_starts, docs, tfs, _ = decode_segment(post)
        term_of = posting_terms(term_starts, len(docs))
        hit = np.isin(docs, read_tombstones(index_dir, seg), assume_unique=True)
        df = np.bincount(term_of[hit], minlength=post.num_rows)
        ttf = np.bincount(term_of[hit], weights=tfs[hit], minlength=post.num_rows)
        touched = np.flatnonzero(df)
        return pa.table({
            "term": post["term"].take(touched),
            "df_part": -df[touched],
            "ttf_part": -ttf[touched].astype(np.int64),
        })

    def docs(seg: int) -> pa.Table:
        dele = read_tombstones(index_dir, seg)
        length = read_segment(index_dir, "docs", seg)["length"].to_numpy()[dele]
        return pa.table({
            "n": [-len(length)],
            "has_field": [-int((length > 0).sum())],
            "length": [-int(length.sum())],
        })

    return (
        segment_scan(spark, segs, terms, StructType.fromDDL(REMOVED_TERMS_SCHEMA)),
        segment_scan(spark, segs, docs, StructType.fromDDL(REMOVED_DOCS_SCHEMA)),
    )


def atomic_update_docs(
    spark: SparkSession,
    index_dir: str,
    ops: DataFrame,
    field_ops: dict[str, str],
    source: DataFrame,
    *,
    n_segments: int | None = None,
) -> DataFrame:
    """Atomic partial updates — the ``S/update/processor/
    AtomicUpdateDocumentMerger.java`` analog: resolve field-level
    ``set`` / ``add`` / ``inc`` operations against the LIVE document, then
    replace it via the existing tombstone + re-add path (``update_docs``).

    ``ops``: key columns + one operand column per updated field.
    ``field_ops``: {field: 'set' | 'add' | 'inc'} — set replaces, inc adds
    numerically, add appends (the text-field shape of multiValued add).
    ``source``: the system-of-record table holding the current full docs
    (Solr requires stored fields for atomic updates; Spark-idiomatically
    the source table IS the stored-fields store). Resolution is a
    DISTRIBUTED inner join on the doc key — no driver materialization, so
    a million-doc atomic batch scales like any join."""
    meta = IndexMeta.load(index_dir)
    key_cols = list(meta.key_cols)
    operand = ops.select(
        *key_cols, *[F.col(f).alias(f"__op_{f}") for f in field_ops]
    )
    merged = source.join(operand, key_cols)  # inner: only docs being updated
    for f, op in field_ops.items():
        opc = F.col(f"__op_{f}")
        if op == "set":
            new = opc
        elif op == "inc":
            new = F.col(f) + opc
        elif op == "add":
            new = F.concat(F.col(f), F.lit(" "), opc)
        elif op == "remove":
            # remove ALL occurrences of the operand value from the
            # multiValued (whitespace-shaped) field — AtomicUpdate 'remove'
            new = F.array_join(
                F.filter(F.split(F.col(f), " "), lambda x: x != opc), " "
            )
        elif op == "add-distinct":
            # append only when absent — AtomicUpdate 'add-distinct'
            new = F.when(
                F.array_contains(F.split(F.col(f), " "), opc), F.col(f)
            ).otherwise(F.concat(F.col(f), F.lit(" "), opc))
        else:
            raise ValueError(f"unknown atomic op {op!r} for field {f!r}")
        merged = merged.withColumn(f, new)
    merged = merged.drop(*[f"__op_{f}" for f in field_ops])
    return update_docs(spark, merged, index_dir, n_segments=n_segments)


def update_docs_cas(
    spark: SparkSession,
    index_dir: str,
    updates: DataFrame,
    source: DataFrame,
    *,
    version_col: str = "_expected_version_",
    value_col: str = "text",
    n_segments: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Optimistic concurrency — Solr's ``_version_`` compare-and-swap
    (``S/update/processor/DistributedUpdateProcessor`` version check: an
    update carrying ``_version_ > 0`` must match the live doc's version or
    the server answers 409 Conflict). This engine has no transaction-log
    version counter (the manifest IS the commit point — SURVEY §2.G), so
    the version token is the md5 of the live doc's ``value_col``: the SAME
    conflict semantics — an update built against a stale read cannot
    clobber a newer write — with a content-derived token (documented
    deviation; Solr's counter and a content hash are interchangeable as
    CAS tokens when every write goes through this path).

    ``updates``: key columns + the new field values + ``version_col``
    holding the version the writer READ. Rows whose expectation matches
    the live doc are applied through the normal tombstone + re-add path;
    mismatches are returned as the rejected set (the 409s), untouched.

    Returns ``(applied_keys, rejected_keys)`` DataFrames (key columns +
    live/expected versions for the caller's retry loop).

    Scale shape: ONE distributed join of the update batch with the
    source-of-record table on the doc key — no driver materialization; the
    apply path is the existing update machinery."""
    meta = IndexMeta.load(index_dir)
    key_cols = list(meta.key_cols)
    live = source.select(
        *key_cols, F.md5(F.col(value_col)).alias("_live_version_")
    )
    checked = updates.join(live, key_cols, "left")
    ok = F.col(version_col) == F.col("_live_version_")
    applied_rows = checked.filter(ok).drop(version_col, "_live_version_")
    rejected = (
        checked.filter(~ok | F.col("_live_version_").isNull())
        .select(*key_cols, F.col(version_col).alias("expected"),
                F.col("_live_version_").alias("live"))
    )
    applied_keys = applied_rows.select(*key_cols)
    if applied_rows.limit(1).count():
        update_docs(spark, applied_rows, index_dir, n_segments=n_segments)
    return applied_keys, rejected


def expunge_deletes(
    spark: SparkSession,
    index_dir: str,
    *,
    drop_commits: bool = False,
) -> dict:
    """Physically reclaim tombstoned docs — ``IndexWriter#forceMergeDeletes``
    / Solr ``<commit expungeDeletes=true>``: every affected segment is
    rewritten WITHOUT its deleted docs, segments that became empty are
    dropped entirely (Lucene drops 100%-deleted segments at flush), the
    tombstone files are cleared, and stats are recomputed from the now-clean
    postings.

    Doc-order invariant (what makes results stable): local ids are
    COMPACTED monotonically (new_local = old_local − #deleted_below), the
    segment keeps its id, and bases are re-derived as the cumsum over
    seg-ordered manifest rows — so the global docID order of live docs is
    exactly the pre-expunge order and every top-k (keys, scores AND docID
    tiebreaks) is identical to the tombstone-path answer (pinned by
    ``tests/test_expunge.py``).

    Retained commit points: an in-place rewrite would silently change what
    an older generation's reader sees, so when ``commits/`` holds retained
    generations this raises unless ``drop_commits=True``, which deletes ALL
    generations first. Deviation from upstream (SnapshotDeletionPolicy keeps
    snapshotted files on disk while the live index moves on) — supporting
    that here means per-generation segment data dirs; documented upgrade
    path, not needed for the space-reclaim use case expunge exists for.

    Scale shape: ONE dealt stage (``segment_scan``) over the affected
    segments. Each task reads its own segment's tombstones, postings and
    docs files, drops the deleted local ids, compacts the rest, re-encodes the postings
    and writes the segment through the build's ``write_segment`` into a
    staging tree — so a rewritten segment is byte-identical to a fresh
    build of its live rows, with real lineage (``content_hash``, counts,
    key range) and ``status="expunged"``. The destructive swaps happen only
    after every new file exists: segment dirs first, manifest markers last
    (the crash window between swaps is the in-place trade-off; Lucene's
    segments_N atomicity maps to our manifest markers)."""
    segs = tombstone_segs(tombstone_files(index_dir))
    if not segs:
        return {"expunged_docs": 0, "rewritten_segs": [], "dropped_segs": []}

    from .commits import commits_path, list_commits

    gens = list_commits(index_dir)
    if gens:
        if not drop_commits:
            raise ValueError(
                f"index has retained commit generations {gens}; expunge "
                "rewrites segments in place and would corrupt them — pass "
                "drop_commits=True to drop all generations first"
            )
        shutil.rmtree(commits_path(index_dir), ignore_errors=True)

    meta = IndexMeta.load(index_dir)
    manifest = read_manifest(index_dir)
    n_docs = dict(zip(manifest["seg"], manifest["n_docs"]))
    staging = os.path.join(index_dir, "_expunge_staging")
    shutil.rmtree(staging, ignore_errors=True)
    schema = StructType.fromDDL(MANIFEST_SCHEMA)
    arrow_schema = to_arrow_schema(schema)

    def rewrite_one(seg: int) -> pa.Table:
        row = _expunge_segment(index_dir, staging, seg, meta)
        return pa.Table.from_pylist([row], schema=arrow_schema)

    rows = segment_scan(spark, segs, rewrite_one, schema).collect()  # one per segment
    dropped = sorted(r.seg for r in rows if r.status == _DROPPED)
    rewritten = sorted(r.seg for r in rows if r.status != _DROPPED)

    # --- destructive phase: segment dirs, dropped segments, then markers ---
    for seg in rewritten:
        for root in SEGMENT_ROOTS:
            old = os.path.join(index_dir, root, f"seg={seg}")
            shutil.rmtree(old, ignore_errors=True)
            shutil.move(os.path.join(staging, root, f"seg={seg}"), old)
    for seg in dropped:
        for root in SEGMENT_ROOTS:
            shutil.rmtree(os.path.join(index_dir, root, f"seg={seg}"), ignore_errors=True)
        os.remove(os.path.join(index_dir, "manifest", f"seg={seg}.parquet"))
    for seg in rewritten:
        name = f"seg={seg}.parquet"
        os.replace(
            os.path.join(staging, "manifest", name),
            os.path.join(index_dir, "manifest", name),
        )
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(tombstones_path(index_dir), ignore_errors=True)

    # read_manifest's bases (cumsum over seg-ordered markers): live global
    # ids compact but keep their relative order, and no other segment's
    # file is touched
    _commit(spark, index_dir)
    return {
        "expunged_docs": int(sum(n_docs[r.seg] - r.n_docs for r in rows)),
        "rewritten_segs": rewritten,
        "dropped_segs": dropped,
    }


_DROPPED = "dropped"  # expunge task status of a segment with no live doc


def _expunge_segment(index_dir: str, staging: str, seg: int, meta: IndexMeta) -> dict:
    """One expunge task: segment ``seg`` without its tombstoned docs,
    written into ``staging`` by ``write_segment`` — or, when no doc is left,
    nothing and a ``_DROPPED`` row. Live local ids compact monotonically
    (new = old − #deleted below), and each term's postings re-encode with
    the kept docs' norms; terms left with no live doc disappear."""
    t0 = time.monotonic()
    dele = read_tombstones(index_dir, seg)
    docs = read_segment(index_dir, "docs", seg)
    alive = ~np.isin(np.arange(len(docs)), dele)
    if not alive.any():
        return {"seg": seg, "n_docs": 0, "status": _DROPPED}
    norm_of = docs["norm"].to_numpy().astype(np.int64)
    live = docs.filter(pa.array(alive)).combine_chunks()
    docs_tbl = pa.table({
        **{c: live[c] for c in (*meta.key_cols, *meta.keyword_cols)},
        "doc_local": np.arange(len(live), dtype=np.int64),
        "length": live["length"],
        "norm": live["norm"],
    })

    post = read_segment(index_dir, "postings", seg)
    term_starts, d, tfs, pos = decode_segment(post, with_positions=meta.positions)
    keep = ~np.isin(d, dele, assume_unique=True)
    df = np.bincount(posting_terms(term_starts, len(d))[keep], minlength=post.num_rows)
    kept = d[keep]
    postings = encode_segment(
        post["term"].filter(pa.array(df > 0)), np.cumsum(df[df > 0]) - df[df > 0],
        kept - np.searchsorted(dele, kept), tfs[keep], norm_of[kept],
        pos[np.repeat(keep, tfs)] if meta.positions else None,
    )
    return write_segment(
        staging, seg, meta, docs_tbl, postings, t0=t0, status="expunged"
    )


# --- in-place numeric DocValues updates -------------------------------------

def dv_updates_root(index_dir: str, field: str) -> str:
    return os.path.join(index_dir, "dv_updates", f"field={field}")


def update_numeric_docvalues(
    spark: SparkSession, updates: DataFrame, index_dir: str, field: str,
) -> int:
    """``IndexWriter#updateNumericDocValue(term, field, value)`` analog
    (``L/index/DocValuesUpdate.NumericDocValuesUpdate``, applied by
    ``ReadersAndUpdates#writeFieldUpdates`` as a NEW docvalues GENERATION
    alongside the immutable segment): set a numeric per-doc value WITHOUT
    touching postings, norms, or stored text. ``updates`` carries
    (doc_key, value); each call lands as its own generation directory
    ``dv_updates/field=<f>/gen=N/`` — exactly Lucene's dvGen files — and
    readers resolve a doc's value as the HIGHEST generation that wrote it,
    falling back to the base (index-time) value.

    Returns the generation number written. Scale shape: the update batch
    is written distributed as-is (no read-modify-write of existing data,
    no shuffle); resolution cost is deferred to readers as a keyed join
    against O(updated docs) rows — the same economics as Lucene, where
    dvGen files stack until merge folds them in."""
    root = dv_updates_root(index_dir, field)
    gens = [
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(root, "gen=*"))
    ]
    gen = (max(gens) + 1) if gens else 1
    (
        updates.select(
            F.col("doc_key").cast("long").alias("doc_key"),
            F.col("value").cast("double").alias("value"),
        )
        .write.mode("errorifexists")
        .parquet(os.path.join(root, f"gen={gen}"))
    )
    return gen


def numeric_docvalues(
    spark: SparkSession, index_dir: str, field: str, base: DataFrame,
) -> DataFrame:
    """Resolved numeric docvalues view: (doc_key, value) for every doc in
    ``base`` (doc_key, value = the index-time generation-0 values), with
    stacked update generations applied latest-wins per key
    (``SegmentReader#getNumericDocValues`` merging dvGen files).

    One window rank over the updates table (O(updated docs), partitioned
    by key — no skew: a key appears once per generation that touched it)
    plus one left join against the base; docs never updated ride the base
    value through ``coalesce``."""
    root = dv_updates_root(index_dir, field)
    gens = sorted(glob.glob(os.path.join(root, "gen=*")))
    if not gens:
        return base.select("doc_key", F.col("value").cast("double").alias("value"))
    from pyspark.sql import Window

    # the listed generation dirs as explicit paths: a glob path makes Spark
    # probe the literal 'gen=*' for a sink log and log a FileNotFoundException
    ov = spark.read.option("basePath", root).parquet(*gens)
    w = Window.partitionBy("doc_key").orderBy(F.desc("gen"))
    latest = (
        ov.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_key", F.col("value").alias("_upd"))
    )
    return (
        base.join(latest, "doc_key", "left")
        .select(
            "doc_key",
            F.coalesce(F.col("_upd"), F.col("value").cast("double")).alias("value"),
        )
    )
