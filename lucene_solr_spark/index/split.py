"""Index / shard splitting — ``S/update/SolrIndexSplitter`` (SPLITSHARD) and
``lucene/misc`` ``PKIndexSplitter`` re-expressed on the tombstone machinery.

Upstream semantics: splitting a core does NOT re-tokenize or re-score
anything — each child is the parent's segments opened through a liveDocs
mask that keeps only the docs in the child's hash range (SolrIndexSplitter
builds a per-child FixedBitSet and writes the segments through
``addIndexes(FilterCodecReader)``; PKIndexSplitter is the same with a
primary-key range predicate). Physical compaction happens later, when
ordinary merging rewrites the masked segments.

Spark shape (this module):

- A child index = the parent's IMMUTABLE segment files (hard-linked, not
  copied — postings/docs/norms/bloom are write-once, exactly the property
  the backup/restore test pins) + child-local per-segment tombstone files
  (the parent's, linked, plus one batch marking every doc OUTSIDE the
  child's hash bucket) + child-local
  ``term_stats``/``stats`` refreshed by the same ``_finalize`` that owns
  them for updates (so each child scores like a fresh build over its
  slice). At cluster scale the hard-link step is an Iceberg metadata
  operation: a child snapshot references the same data files plus a
  position-delete file — no data movement at all; the ONLY distributed
  work is one scan of the docs sidecar (bucket assignment) and the
  seg-pruned stats delta pass, both O(corpus metadata), not O(postings).
- Routing is the deterministic md5 bucket the pipeline ops already use
  (``ops/pipeline.sample_split``): bucket = first-8-hex-chars of
  md5(key) mod n — stable across runs/engines, reproducible in DuckDB,
  and uniform enough that children are balanced (the compositeId hash
  router's property).
- Because local doc ids, norms, positions and global-stats refresh are
  all preserved, a scatter-gather search over the children with merged
  exact stats (``engine.exactstats`` machinery) returns BITWISE the
  parent's page — the invariant SolrIndexSplitter maintains so a live
  collection can split under traffic without ranking movement.

Cost note (``stats_mode``): the default ``"scan"`` computes every child's
term/collection statistics from ONE distributed pass — postings doc-id
streams decode once into (seg, doc_local, term, tf) rows, join the
bucket assignment, and a single (child, term) hash-agg yields all
children's dictionaries; per-child work after that is a tiny filtered
write. Fully distributed (the assignment rides the join). ``"per_child"``
instead runs the same ``_finalize`` refresh updates/DBQ use, once per child
(n removal passes over every segment) — kept as the independently-derived
reference path the equivalence test pins the scan against. Either way this
is strictly less work than upstream SPLITSHARD, which REWRITES every posting
byte per child through addIndexes.

Scope notes: children start as fresh cores — retained commit generations
(``commits/``) and docvalues-update sidecars are NOT carried (upstream
SPLITSHARD children likewise begin a fresh update log); split a parent at
its current live state. Parent tombstones ARE carried (linked into each
child next to its mask) so splitting an updated index stays correct.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F

from .build import SEGMENT_ROOTS, IndexMeta, write_term_dictionary
from .updates import append_tombstones, refresh_stats, tombstones_df, tombstones_path

# Subtrees safe to hard-link into children. Segment files and manifest
# markers are write-once (no base or other index-wide value is stored in a
# segment, and the child's commit tail rewrites none of them).
# term_stats/term_stats_rev/stats are ALSO linked: the child's refresh
# rewrites them with mode("overwrite"), which unlinks the child's directory
# entries without touching the parent's inodes.
_LINKED = (*SEGMENT_ROOTS, "manifest", "term_stats", "term_stats_rev", "stats")


def _link_tree(src: str, dst: str) -> None:
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            if os.path.exists(d):
                os.remove(d)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def split_bucket_col(key_col: str, n_children: int):
    """The hash-router bucket: first 8 md5 hex chars of the stringified
    key, mod n — the ops/pipeline.sample_split idiom (identical in DuckDB:
    ``('0x' || substr(md5(key::VARCHAR), 1, 8))::BIGINT % n``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_children),
    )


def split_index(
    spark: SparkSession,
    index_dir: str,
    n_children: int,
    out_root: str,
    stats_mode: str = "scan",
) -> list[str]:
    """Split a committed index into ``n_children`` hash-routed child
    indexes under ``out_root``; returns the child dirs. The parent is not
    modified. Each child is immediately searchable by ``IndexSearcher``
    (same segments, child tombstones, refreshed stats). ``stats_mode``:
    ``"scan"`` (default, one distributed pass for all children) or
    ``"per_child"`` (n ``_finalize`` refreshes — the reference path)."""
    meta = IndexMeta.load(index_dir)
    key = meta.key_cols[0]
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    bucket = split_bucket_col(key, n_children)
    parent_tomb = tombstones_df(spark, index_dir)
    out: list[str] = []
    for c in range(n_children):
        cdir = os.path.join(out_root, f"shard{c}")
        for sub in _LINKED:
            s = os.path.join(index_dir, sub)
            if os.path.isdir(s):
                _link_tree(s, os.path.join(cdir, sub))
        shutil.copy2(
            os.path.join(index_dir, "meta.json"), os.path.join(cdir, "meta.json")
        )
        # the parent's tombstone files (write-once: linked), then one batch
        # marking the docs outside the bucket; read_tombstones unions them
        shutil.rmtree(tombstones_path(cdir), ignore_errors=True)
        if parent_tomb is not None:
            _link_tree(tombstones_path(index_dir), tombstones_path(cdir))
        append_tombstones(docs.filter(bucket != c).select(
            F.col("seg").cast("int").alias("seg"),
            F.col("doc_local").cast("long").alias("doc_local"),
        ).repartition("seg"), cdir)
        if stats_mode == "per_child":
            refresh_stats(spark, cdir)
        out.append(cdir)
    if stats_mode == "scan":
        _write_child_stats_single_scan(
            spark, index_dir, out, n_children, key, parent_tomb
        )
    elif stats_mode != "per_child":
        raise ValueError(f"unknown stats_mode {stats_mode!r}")
    from .build import stamp_finalize_done

    for cdir in out:  # children open via the manifest fast path thereafter
        stamp_finalize_done(cdir)
    return out


def _write_child_stats_single_scan(
    spark: SparkSession,
    index_dir: str,
    child_dirs: list[str],
    n_children: int,
    key: str,
    parent_tomb,
) -> None:
    """All children's term/collection statistics from ONE distributed
    postings pass: decode each batch's doc-id/tf streams at once → join the
    (seg, doc_local) → child assignment → one (child, term) hash-agg — one
    pass for all children where the per-child ``_finalize`` path makes n.
    The per-child write afterwards filters the tiny aggregated dictionary."""
    import pyarrow as pa

    from .codec import decode_segment, posting_terms

    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    if parent_tomb is not None:
        docs = docs.join(parent_tomb, ["seg", "doc_local"], "left_anti")
    assign = docs.select(
        F.col("seg").cast("int").alias("seg"),
        F.col("doc_local").cast("long").alias("doc_local"),
        split_bucket_col(key, n_children).cast("int").alias("child"),
        F.col("length").cast("long").alias("length"),
    )

    def explode_kernel(batches):
        for batch in batches:  # (seg, term, blocks) rows → one row per posting
            post = pa.Table.from_batches([batch])
            term_starts, doc_local, tf, _ = decode_segment(post)
            rows = pa.array(posting_terms(term_starts, len(doc_local)))
            yield pa.RecordBatch.from_pydict({
                "seg": post["seg"].take(rows).combine_chunks(),
                "doc_local": doc_local,
                "term": post["term"].take(rows).combine_chunks(),
                "tf": tf,
            })

    exploded = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .select(F.col("seg").cast("int").alias("seg"), "term", "blocks")
        .mapInArrow(explode_kernel, "seg int, doc_local long, term string, tf long")
    )
    per_child_ts = (
        exploded.join(assign.select("seg", "doc_local", "child"), ["seg", "doc_local"])
        .groupBy("child", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"),
             F.sum("tf").cast("long").alias("ttf"))
        .persist()
    )
    per_child_stats = {
        int(r["child"]): r
        for r in assign.groupBy("child").agg(
            F.count(F.lit(1)).alias("max_doc"),
            F.sum((F.col("length") > 0).cast("long")).alias("doc_count"),
            F.sum("length").alias("sum_ttf"),
        ).collect()
    }
    for c, cdir in enumerate(child_dirs):
        write_term_dictionary(
            spark,
            per_child_ts.filter(F.col("child") == c).select("term", "df", "ttf"),
            cdir,
        )
        r = per_child_stats.get(c)
        row = (
            (int(r["max_doc"]), int(r["doc_count"]), int(r["sum_ttf"]))
            if r is not None else (0, 0, 0)
        )
        spark.createDataFrame(
            [row], "max_doc long, doc_count long, sum_ttf long"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(cdir, "stats"))
    per_child_ts.unpersist()
