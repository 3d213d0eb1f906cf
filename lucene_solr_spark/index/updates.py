"""Deletes and updates — tombstone bitsets + delete-and-re-add on the doc key.

Reference semantics: ``L/index/PendingDeletes`` (per-segment live-docs bitset
consulted by every scorer), ``S/update/DirectUpdateHandler2#addDoc`` (an
update on the uniqueKey is delete + re-add; the re-added doc lands in a new
segment with a new internal id). Spark shape:

- ``tombstones/`` under the index dir holds (seg, doc_local) rows — the
  segment-local ids of deleted docs, identified by the STABLE (seg, local)
  pair (immune to base renumbering on append). Written distributed
  (``df.write.mode("append")``), read once per searcher and broadcast to the
  scoring kernels, which exclude them before top-k (kernels._merge_excl).
- ``delete_docs`` resolves doc keys → (seg, doc_local) with one broadcast
  join against the docs table (seg-pruned columnar scan), appends the
  tombstone delta, and refreshes global stats.
- ``update_docs`` = delete_docs(keys) + append_batch(new rows): re-added
  docs get fresh internal ids after all existing segments (Lucene's
  monotone docID discipline), so (conv_id, turn_idx)-keyed text equality is
  preserved for the LIVE copy only.
- Stats refresh (unlike classic Lucene, which keeps stale df until merge):
  ``refresh_stats`` recomputes docCount/sumTTF/avgdl excluding tombstones
  (anti-join) and subtracts each deleted doc's df/ttf contribution from
  term_stats via ONE seg-pruned pass over the affected segments' postings —
  so BM25 scores after an update equal a fresh build over the post-update
  corpus (the driver-checked invariant in ``ft_after_update_topk``).

Scale notes: the tombstone table is O(deleted docs) rows; the stats-delta
scan touches only segments containing deletes (hive seg= pruning) and only
decodes doc-id streams (no positions, no scores). At 10^12 docs with heavy
churn you would run ``merge_segments`` periodically and rewrite the lagging
segments; the delta refresh here is the between-merges path.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import IndexMeta, _finalize
from .codec import decode_postings

TOMBSTONE_SCHEMA = "seg int, doc_local long"


def tombstones_path(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def tombstones_by_seg(tomb_df: DataFrame) -> dict[int, np.ndarray]:
    """{seg: sorted unique local ids} from a tombstone DataFrame — the
    per-leaf live-docs complement. Collected to the driver and broadcast
    into query closures (1 entry per deleted doc, the same memory class as
    Lucene's in-heap PendingDeletes bitsets); callers gate this behind
    TOMB_DRIVER_BUDGET; above it each scoring task reads its own segment's
    rows from the tombstone files (``search/segtask.py``)."""
    pdf = tomb_df.toPandas()
    return {
        int(seg): np.unique(g["doc_local"].to_numpy(dtype=np.int64))
        for seg, g in pdf.groupby("seg")
    }


def load_tombstones(spark: SparkSession, index_dir: str) -> dict[int, np.ndarray]:
    """{seg: sorted unique local ids} for the whole index dir; empty dict
    when the index has no deletes."""
    path = tombstones_path(index_dir)
    if not glob.glob(os.path.join(path, "*.parquet")) and not glob.glob(
        os.path.join(path, "*", "*.parquet")
    ):
        return {}
    return tombstones_by_seg(spark.read.schema(TOMBSTONE_SCHEMA).parquet(path))


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    keys: DataFrame,
    *,
    refresh: bool = True,
) -> int:
    """Tombstone every doc whose key appears in ``keys`` (columns =
    meta.key_cols). Returns the number of newly tombstoned docs. Docs
    already deleted are de-duplicated at read time (np.unique in
    load_tombstones / DISTINCT in refresh_stats)."""
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
    mapping joins DISTRIBUTED against the docs table (only the tiny
    per-segment bases broadcast; the hit set itself never touches the
    driver)."""
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    bases = (
        spark.read.parquet(os.path.join(index_dir, "seg_norms"))
        .select("seg", "base")
    )
    hit = (
        docs.join(F.broadcast(bases), "seg")
        .withColumn("doc_id", F.col("doc_local") + F.col("base"))
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
    return value means NEWLY deleted and the table stays O(distinct deleted
    docs) under repeated deletes — IndexWriter#deleteDocuments is
    idempotent), append, refresh stats."""
    if glob.glob(os.path.join(tombstones_path(index_dir), "*.parquet")) or glob.glob(
        os.path.join(tombstones_path(index_dir), "*", "*.parquet")
    ):
        existing = spark.read.parquet(tombstones_path(index_dir))
        hit = hit.join(existing, ["seg", "doc_local"], "left_anti")
    hit = hit.distinct().cache()
    n = hit.count()
    if n:
        hit.write.mode("append").parquet(tombstones_path(index_dir))
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


def term_stats_removals(
    spark: SparkSession, index_dir: str, tomb: dict[int, np.ndarray]
) -> DataFrame:
    """Per-term (df_rm, ttf_rm) contributed by tombstoned docs — ONE pass
    over the affected segments' postings (seg-partition-pruned scan), doc-id
    streams only. Used by build._finalize to keep term_stats equal to a
    fresh build over the live corpus."""
    segs = sorted(tomb)
    tomb_b = spark.sparkContext.broadcast({s: a for s, a in tomb.items()})

    def kernel(iterator):
        t = tomb_b.value
        for pdf in iterator:
            terms, dfr, ttfr = [], [], []
            for seg, term, blocks in zip(pdf["seg"], pdf["term"], pdf["blocks"]):
                dele = t.get(int(seg))
                if dele is None or not len(blocks):
                    continue
                docs, tfs = decode_postings(list(blocks))[:2]
                hitmask = np.isin(docs, dele, assume_unique=True)
                k = int(hitmask.sum())
                if k:
                    terms.append(term)
                    dfr.append(k)
                    ttfr.append(int(tfs[hitmask].sum()))
            yield pd.DataFrame({"term": terms, "df_rm": dfr, "ttf_rm": ttfr})

    posts = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("seg").isin(segs))
        .select("seg", "term", "blocks")
    )
    return (
        posts.mapInPandas(kernel, "term string, df_rm long, ttf_rm long")
        .groupBy("term")
        .agg(F.sum("df_rm").alias("df_rm"), F.sum("ttf_rm").alias("ttf_rm"))
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
    tombstone table is cleared, and stats are recomputed from the now-clean
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
    segments. Each task reads its own segment's postings and docs files,
    drops the deleted local ids, compacts the rest, re-encodes the postings
    and writes the segment through the build's ``write_segment`` into a
    staging tree — so a rewritten segment is byte-identical to a fresh
    build of its live rows, with real lineage (``content_hash``, counts,
    key range) and ``status="expunged"``. The destructive swaps happen only
    after every new file exists: segment dirs first, manifest markers last
    (the crash window between swaps is the in-place trade-off; Lucene's
    segments_N atomicity maps to our manifest markers)."""
    import shutil

    from pyspark.sql.types import StructType

    from ..util.segscan import segment_scan
    from .build import MANIFEST_SCHEMA, _commit, _read_committed_manifest

    tomb = load_tombstones(spark, index_dir)
    if not tomb:
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
    manifest = _read_committed_manifest(index_dir)
    n_docs = dict(zip(manifest["seg"], manifest["n_docs"]))
    affected = sorted(tomb)
    dropped = [s for s in affected if len(tomb[s]) >= n_docs[s]]
    rewritten = [s for s in affected if s not in dropped]

    staging = os.path.join(index_dir, "_expunge_staging")
    shutil.rmtree(staging, ignore_errors=True)

    def rewrite_one(seg: int) -> pa.Table:
        row = _expunge_segment(index_dir, staging, seg, meta, tomb[seg])
        return pa.Table.from_pylist([row])

    segment_scan(
        spark, rewritten, rewrite_one, StructType.fromDDL(MANIFEST_SCHEMA)
    ).collect()

    # --- destructive phase: segment dirs, dropped segments, then markers ---
    roots = ("postings", "docs", "seg_norms", "bloom")
    for seg in rewritten:
        for root in roots:
            old = os.path.join(index_dir, root, f"seg={seg}")
            shutil.rmtree(old, ignore_errors=True)
            shutil.move(os.path.join(staging, root, f"seg={seg}"), old)
    for seg in dropped:
        for root in roots:
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

    # bases: cumsum over seg-ordered manifest rows — live global ids
    # compact but keep their relative order
    _commit(spark, index_dir, _read_committed_manifest(index_dir))
    return {
        "expunged_docs": int(sum(len(v) for v in tomb.values())),
        "rewritten_segs": rewritten,
        "dropped_segs": dropped,
    }


def _expunge_segment(
    index_dir: str, staging: str, seg: int, meta: IndexMeta, dele: np.ndarray
) -> dict:
    """One expunge task: segment ``seg`` without the local ids ``dele``
    (sorted, unique), written into ``staging`` by ``write_segment``. Live
    local ids compact monotonically (new = old − #deleted below), and each
    term's postings re-encode with the kept docs' norms; terms left with no
    live doc disappear."""
    from .build import read_segment, write_segment
    from .codec import encode_posting_blocks

    t0 = time.monotonic()
    docs = read_segment(index_dir, "docs", seg)
    norm_of = docs["norm"].to_numpy().astype(np.int64)
    live = docs.filter(pa.array(~np.isin(np.arange(len(docs)), dele))).combine_chunks()
    docs_tbl = pa.table({
        **{c: live[c] for c in (*meta.key_cols, *meta.keyword_cols)},
        "doc_local": np.arange(len(live), dtype=np.int64),
        "length": live["length"],
        "norm": live["norm"],
    })

    post = read_segment(index_dir, "postings", seg)
    term_rows = []
    for term, blocks in zip(post["term"].to_pylist(), post["blocks"].to_pylist()):
        dec = decode_postings(blocks, with_positions=meta.positions)
        d, tfs = dec[0], dec[1]
        keep = ~np.isin(d, dele, assume_unique=True)
        if not keep.any():
            continue
        kept, tfs_k = d[keep], tfs[keep]
        term_rows.append((term, len(kept), int(tfs_k.sum()), encode_posting_blocks(
            kept - np.searchsorted(dele, kept), tfs_k, norm_of[kept],
            dec[2][np.repeat(keep, tfs)] if meta.positions else None,
        )))
    return write_segment(
        staging, seg, meta, docs_tbl, term_rows, t0=t0, status="expunged"
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
