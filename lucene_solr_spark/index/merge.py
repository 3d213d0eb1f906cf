"""Distributed segment merge — ``L/index/SegmentMerger#merge`` re-expressed
as a salted two-phase shuffle (the north rule's hot-term skew treatment).

Because docIDs are GLOBAL dense ranks (one contiguous range per segment,
bases increasing with segment id — see build.py), merging K segments needs
no ``MergeState.DocMap`` remap: a term's merged posting list is the
seg-ordered concatenation of its per-segment lists, already docID-sorted.

Two-phase shape (``TieredMergePolicy``'s work, minus the remap):

  phase 1  groupBy(term, out_seg, SALT) — salt = contiguous sub-range of
           input segments. Each task decodes + re-encodes only its
           sub-range's postings into fresh 128-doc blocks. A hot term
           (30% of all docs) is split across `salt` tasks instead of
           serializing into one reducer — the skew fix.
  phase 2  groupBy(term, out_seg) — concatenates the salt groups' BLOCK
           LISTS in salt order (no decode: block structs are just stacked,
           mid-list partial blocks are legal). Cheap, skew-immune.

Impact metadata: per-block (max_tf, min_norm) is recomputed exactly when the
per-doc norm array fits driver memory (broadcast); for larger indexes pass
``conservative_impacts=True`` to derive each new block's min_norm as the min
over overlapping source blocks — a looser but still VALID upper bound (WAND
results are unchanged; only pruning efficiency differs).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import IndexMeta
from .codec import BLOCK_SIZE, decode_block, encode_posting_blocks

_BLOCKS_DDL = (
    "array<struct<first_doc:bigint,last_doc:bigint,n:int,max_tf:int,"
    "min_norm:int,docs_bytes:binary,tfs_bytes:binary,pos_bytes:binary>>"
)
PHASE1_SCHEMA = (
    f"term string, seg int, salt int, df_part bigint, ttf_part bigint, blocks {_BLOCKS_DDL}"
)
PHASE2_SCHEMA = f"term string, seg int, df_part bigint, ttf_part bigint, blocks {_BLOCKS_DDL}"


def _load_seg_layout(spark: SparkSession, index_dir: str) -> pd.DataFrame:
    sn = spark.read.parquet(os.path.join(index_dir, "seg_norms")).select("seg", "base", "n")
    return sn.toPandas().sort_values("base").reset_index(drop=True)


def _load_global_norms(index_dir: str, layout: pd.DataFrame) -> np.ndarray:
    """Dense norms array indexed by global docID (broadcastable while the
    doc count fits memory — 1 byte/doc)."""
    import pyarrow.parquet as pq

    total = int((layout.base + layout.n).max()) if len(layout) else 0
    out = np.zeros(total, dtype=np.uint8)
    for seg, base, n in layout[["seg", "base", "n"]].itertuples(index=False):
        t = pq.read_table(os.path.join(index_dir, "seg_norms", f"seg={seg}")).to_pandas()
        arr = np.frombuffer(t["norms"].iloc[0], dtype=np.uint8)
        out[base:base + len(arr)] = arr
    return out


def _phase1_kernel(norms_bc, positions: bool, in_bases: dict[int, int], out_bases: dict[int, int]):
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        term, out_seg, salt = key
        out_base = out_bases[int(out_seg)]
        pdf = pdf.sort_values("in_seg")
        docs_l, tfs_l, pos_l = [], [], []
        cons_min_norm: list[tuple[int, int, int]] = []  # (first, last, min_norm) GLOBAL
        for in_seg, blocks in zip(pdf["in_seg"], pdf["blocks"]):
            in_base = in_bases[int(in_seg)]
            for blk in blocks:
                dec = decode_block(blk, with_positions=positions)
                docs_l.append(dec[0] + in_base)  # globalize
                tfs_l.append(dec[1])
                if positions:
                    pos_l.append(dec[2])
                cons_min_norm.append(
                    (int(blk["first_doc"] if isinstance(blk, dict) else blk.first_doc) + in_base,
                     int(blk["last_doc"] if isinstance(blk, dict) else blk.last_doc) + in_base,
                     int(blk["min_norm"] if isinstance(blk, dict) else blk.min_norm))
                )
        docs = np.concatenate(docs_l) if docs_l else np.empty(0, dtype=np.int64)
        tfs = np.concatenate(tfs_l) if tfs_l else np.empty(0, dtype=np.int64)
        pos = (np.concatenate(pos_l) if pos_l else None) if positions else None
        if norms_bc is not None:
            norms = norms_bc.value[docs]
        else:
            # conservative: min over source blocks covering each doc
            norms = np.full(len(docs), 255, dtype=np.int64)
            for first, last, mn in cons_min_norm:
                sel = (docs >= first) & (docs <= last)
                norms[sel] = np.minimum(norms[sel], mn)
        blocks = encode_posting_blocks(docs - out_base, tfs, norms.astype(np.int64), pos)
        return pd.DataFrame([{
            "term": term, "seg": int(out_seg), "salt": int(salt),
            "df_part": int(len(docs)), "ttf_part": int(tfs.sum()),
            "blocks": blocks,
        }])

    return kernel


def _phase2_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
    term, out_seg = key
    pdf = pdf.sort_values("salt")
    blocks: list = []
    for bl in pdf["blocks"]:
        blocks.extend(list(bl))
    return pd.DataFrame([{
        "term": term, "seg": int(out_seg),
        "df_part": int(pdf["df_part"].sum()),
        "ttf_part": int(pdf["ttf_part"].sum()),
        "blocks": blocks,
    }])


def merge_segments(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    n_out: int = 1,
    salt: int = 4,
    conservative_impacts: bool = False,
    plan: list[list[int]] | None = None,
    subset_ok: bool = False,
) -> DataFrame:
    """Merge the index at ``src_dir`` into ``n_out`` doc-contiguous segments
    at ``dst_dir`` (query results are invariant — tested property).

    ``plan``: an explicit merge plan — a partition of the source segment
    ids into base-contiguous groups, each group becoming ONE output
    segment (the ``MergePolicy.MergeSpecification`` analog; see
    ``find_merges`` for the TieredMergePolicy selection that produces
    one). Overrides ``n_out``'s uniform grouping.

    ``subset_ok``: the plan may cover only SOME source segments — only
    those are read and rewritten (output seg id = min of the group, so the
    ids never clash with untouched segments); the caller is responsible
    for bringing the untouched segments into ``dst_dir`` (file copy — see
    ``tiered_merge``). This is how a policy round touches only the merged
    bytes, the TieredMergePolicy cost model."""
    meta = IndexMeta.load(src_dir)
    layout = _load_seg_layout(spark, src_dir)
    n_in = len(layout)
    os.makedirs(dst_dir, exist_ok=True)

    ranks = {int(s): r for r, s in enumerate(layout.seg)}
    in_bases = {int(s): int(b) for s, b in zip(layout.seg, layout.base)}
    if plan is None:
        if n_out > n_in:
            raise ValueError(f"n_out={n_out} > input segments {n_in}")
        # contiguous grouping: segment rank r (by base) → out seg, salt slot
        per_out = -(-n_in // n_out)         # ceil
        per_salt = max(1, -(-per_out // salt))

        def out_of(rank: int) -> tuple[int, int]:
            return rank // per_out, (rank % per_out) // per_salt

        out_seg_of = {int(s): out_of(ranks[int(s)])[0] for s in layout.seg}
        salt_of = {int(s): out_of(ranks[int(s)])[1] for s in layout.seg}
    else:
        flat = sorted(s for g in plan for s in g)
        all_segs = sorted(int(s) for s in layout.seg)
        if subset_ok:
            if len(set(flat)) != len(flat) or not set(flat) <= set(all_segs):
                raise ValueError("plan groups must be disjoint source segment ids")
        elif flat != all_segs:
            raise ValueError("plan must partition the source segment ids")
        # groups must be runs of consecutive base-ranks (doc-contiguous —
        # the stable-global-docID layout's requirement)
        for g in plan:
            rs = sorted(ranks[int(s)] for s in g)
            if rs != list(range(rs[0], rs[0] + len(rs))):
                raise ValueError(f"plan group {g} is not base-contiguous")
        groups = sorted(plan, key=lambda g: min(ranks[int(s)] for s in g))
        n_out = len(groups)
        out_seg_of, salt_of = {}, {}
        for o, g in enumerate(groups):
            # subset mode: keep ids collision-free with untouched segments
            out_id = min(int(s) for s in g) if subset_ok else o
            per_salt = max(1, -(-len(g) // salt))
            for j, s in enumerate(sorted(g, key=lambda x: ranks[int(x)])):
                out_seg_of[int(s)] = out_id
                salt_of[int(s)] = j // per_salt

    covered = [int(s) for s in layout.seg if int(s) in out_seg_of]
    out_bases: dict[int, int] = {}
    for s in covered:  # out base = min base of the group's segments
        o = out_seg_of[s]
        out_bases[o] = min(out_bases.get(o, 1 << 62), in_bases[s])

    mapping = pd.DataFrame({
        "in_seg": pd.array(covered, dtype="int32"),
        "out_seg": [out_seg_of[s] for s in covered],
        "salt_g": [salt_of[s] for s in covered],
        "in_base": [in_bases[s] for s in covered],
        "out_base": [out_bases[out_seg_of[s]] for s in covered],
    })
    map_df = F.broadcast(spark.createDataFrame(mapping))

    norms_bc = None
    if not conservative_impacts:
        norms_bc = spark.sparkContext.broadcast(_load_global_norms(src_dir, layout))

    postings = (
        spark.read.parquet(os.path.join(src_dir, "postings"))
        .withColumnRenamed("seg", "in_seg")
        .join(map_df.select("in_seg", "out_seg", "salt_g"), "in_seg")
    )
    phase1 = postings.groupBy("term", "out_seg", "salt_g").applyInPandas(
        _phase1_kernel(norms_bc, meta.positions, in_bases, out_bases), PHASE1_SCHEMA
    )
    merged = phase1.groupBy("term", "seg").applyInPandas(_phase2_kernel, PHASE2_SCHEMA)
    (
        merged.repartitionByRange(n_out, "seg", "term")
        .sortWithinPartitions("seg", "term")
        .write.mode("overwrite").partitionBy("seg")
        .parquet(os.path.join(dst_dir, "postings"))
    )

    # Rebuild the per-segment term bloom sidecars for the MERGED segments
    # (the build kernel writes them per input segment; a merged segment's
    # dictionary is the union, so its bloom must be recomputed — same rule
    # as BloomFilteringPostingsFormat regenerating the FuzzySet on merge).
    # One narrow job over the term column only (postings blocks pruned).
    def _bloom_kernel(key, pdf):
        from .bloom import BLOOM_K, bloom_build

        m_bits, bloom_bytes = bloom_build(pdf["term"].tolist())
        return pd.DataFrame(
            {"seg": [int(key[0])], "m": [m_bits], "k": [BLOOM_K],
             "bits": [bloom_bytes]}
        )

    (
        spark.read.parquet(os.path.join(dst_dir, "postings"))
        .select("seg", "term")
        .groupBy("seg")
        .applyInPandas(_bloom_kernel, "seg int, m long, k int, bits binary")
        .write.mode("overwrite").partitionBy("seg")
        .parquet(os.path.join(dst_dir, "bloom"))
    )

    # --- docs table: remap seg + re-base the local ids ---
    docs = (
        spark.read.parquet(os.path.join(src_dir, "docs"))
        .withColumnRenamed("seg", "in_seg")
        .join(map_df.select("in_seg", "out_seg", "in_base", "out_base"), "in_seg")
        .withColumn("doc_local", F.col("doc_local") + F.col("in_base") - F.col("out_base"))
        .drop("in_seg", "in_base", "out_base")
        .withColumnRenamed("out_seg", "seg")
    )
    docs.write.mode("overwrite").partitionBy("seg").parquet(os.path.join(dst_dir, "docs"))

    # --- seg_norms: concat byte arrays per output segment. Written from
    # inside the task as seg=N/part-0.parquet (same layout+naming as the
    # build kernel) so _fixup_bases/append_batch can operate on a merged
    # index exactly like a built one. ---
    def norms_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa

        from .build import _atomic_write

        (out_seg,) = key
        pdf = pdf.sort_values("base")
        seg, base, n = int(out_seg), int(pdf["base"].iloc[0]), int(pdf["n"].sum())
        seg_dir = os.path.join(dst_dir, "seg_norms", f"seg={seg}")
        os.makedirs(seg_dir, exist_ok=True)
        _atomic_write(
            pa.table({
                "base": np.array([base], dtype=np.int64),
                "n": np.array([n], dtype=np.int64),
                "norms": pa.array([b"".join(pdf["norms"])], type=pa.binary()),
            }),
            os.path.join(seg_dir, "part-0.parquet"),
        )
        return pd.DataFrame([{"seg": seg, "base": base, "n": n}])

    sn = (
        spark.read.parquet(os.path.join(src_dir, "seg_norms"))
        .withColumnRenamed("seg", "in_seg")
        .join(map_df.select("in_seg", "out_seg"), "in_seg")
    )
    out_layout = (
        sn.groupBy("out_seg")
        .applyInPandas(norms_kernel, "seg int, base bigint, n bigint")
        .toPandas()
        .sort_values("seg")
        .reset_index(drop=True)
    )

    # --- manifest: per-output-segment rows (SegmentInfos commit point) so a
    # merged index supports append_batch/resume exactly like a built one.
    # Lineage fields are the sums over the source group; content_hash chains
    # the source hashes in base order. ---
    from .build import _atomic_write, _read_committed_manifest

    src_manifest = _read_committed_manifest(src_dir)
    if src_manifest is None:
        src_manifest = pd.DataFrame()
    os.makedirs(os.path.join(dst_dir, "manifest"), exist_ok=True)
    import hashlib

    import pyarrow as pa

    for row in out_layout.itertuples(index=False):
        if len(src_manifest):
            grp = src_manifest[
                src_manifest["seg"].map(lambda s: out_seg_of.get(int(s))) == int(row.seg)
            ].sort_values("seg")
            # A -1 in any source row means that source's lineage was unknown
            # (it came from a manifest-less merge): summing would fold the
            # sentinel into the aggregate, so the whole group degrades to
            # unknown (-1 / empty hash) instead of a negative-biased sum.
            unknown = bool(
                (grp[["doc_count", "n_terms", "n_postings", "sum_len"]] < 0)
                .any()
                .any()
            ) or bool((grp["content_hash"] == "").any())
            agg = {
                "doc_count": -1 if unknown else int(grp["doc_count"].sum()),
                "n_terms": -1 if unknown else int(grp["n_terms"].sum()),  # upper bound (pre-dedup)
                "n_postings": -1 if unknown else int(grp["n_postings"].sum()),
                "sum_len": -1 if unknown else int(grp["sum_len"].sum()),
                "content_hash": "" if unknown else hashlib.md5(
                    "".join(grp["content_hash"]).encode()
                ).hexdigest(),
                "build_secs": float(grp["build_secs"].sum()),
            }
        else:
            agg = {
                "doc_count": -1, "n_terms": -1, "n_postings": -1, "sum_len": -1,
                "content_hash": "", "build_secs": 0.0,
            }
        _atomic_write(
            pa.table({
                "seg": [int(row.seg)], "base": [int(row.base)],
                "n_docs": [int(row.n)], "doc_count": [agg["doc_count"]],
                "n_terms": [agg["n_terms"]], "n_postings": [agg["n_postings"]],
                "sum_len": [agg["sum_len"]], "content_hash": [agg["content_hash"]],
                "status": ["merged"], "build_secs": [agg["build_secs"]],
            }),
            os.path.join(dst_dir, "manifest", f"seg={int(row.seg)}.parquet"),
        )

    # --- tombstones: carried over, translated (seg, local) → (out_seg,
    # local + in_base − out_base). Merge does NOT reclaim deletes — global
    # docIDs are dense ranks, so expunging would renumber every later doc;
    # the live-docs filter keeps working and stats are already
    # tombstone-refreshed (index/updates.py). ---
    from .updates import load_tombstones, tombstones_path

    tomb = load_tombstones(spark, src_dir)
    if tomb:
        rows = []
        for in_seg, arr in tomb.items():
            if int(in_seg) not in out_seg_of:  # untouched segment (subset
                # plan): its tombstones pass through unchanged
                rows.extend((int(in_seg), int(l)) for l in arr)
                continue
            o = out_seg_of[int(in_seg)]
            shift = in_bases[int(in_seg)] - out_bases[o]
            rows.extend((int(o), int(l + shift)) for l in arr)
        spark.createDataFrame(rows, "seg int, doc_local long").write.mode(
            "overwrite"
        ).parquet(tombstones_path(dst_dir))

    # --- global stats & meta are merge-invariant: copy through ---
    for tbl in ("stats", "term_stats", "term_stats_rev"):
        if os.path.isdir(os.path.join(src_dir, tbl)):
            spark.read.parquet(os.path.join(src_dir, tbl)).write.mode(
                "overwrite"
            ).parquet(os.path.join(dst_dir, tbl))
    with open(os.path.join(dst_dir, "meta.json"), "w") as f:
        json.dump({
            "analyzer": meta.analyzer, "key_cols": list(meta.key_cols),
            "text_col": meta.text_col, "positions": meta.positions,
            "n_segments": n_out, "version": meta.version,
            # keyword fields survive the merge inside postings; the meta
            # must carry them too or append-after-merge would stop
            # inverting them (they'd silently vanish from new segments)
            "keyword_cols": list(meta.keyword_cols),
        }, f)
    if norms_bc is not None:
        norms_bc.destroy()
    from .build import stamp_finalize_done

    stamp_finalize_done(dst_dir)  # stats copied through are already consistent
    return spark.read.parquet(os.path.join(dst_dir, "postings"))


def add_indexes(
    spark: SparkSession, src_dirs: list[str], dst_dir: str,
) -> int:
    """``IndexWriter#addIndexes(Directory...)`` analog: graft the LIVE
    (manifest-committed) segments of several source indexes into one new
    index WITHOUT touching a single posting byte — segments renumber, bases
    re-derive, and global stats re-finalize; postings/docs/bloom files copy
    verbatim (per-segment data is self-contained under segment-local ids,
    exactly why Lucene's addIndexes is a file-level operation). Returns the
    number of segments grafted.

    Preconditions (asserted): identical analyzer/positions/keyword schema
    across sources (Lucene's same-FieldInfos requirement) and no pending
    tombstones or docvalues-update sidecars — expunge/merge first, the
    upstream guidance for addIndexes(Directory...) too.

    Scale shape: data files move by directory copy — on an object store /
    Iceberg this is a server-side copy or pure metadata commit, NOT a read
    of the postings; the only computed artifacts are the tiny per-segment
    seg_norms/manifest rewrites (base renumbering, O(segments) pyarrow
    rows) and one ``_finalize`` pass for term_stats/stats, the same
    aggregate every build already pays."""
    import shutil

    from .build import _finalize

    metas = [IndexMeta.load(d) for d in src_dirs]
    m0 = metas[0]
    for m in metas[1:]:
        if (m.analyzer, m.positions, m.keyword_cols, m.text_col) != (
            m0.analyzer, m0.positions, m0.keyword_cols, m0.text_col
        ):
            raise ValueError("addIndexes: source index schemas differ")
    for d in src_dirs:
        for side in ("tombstones", "dv_updates"):
            if os.path.isdir(os.path.join(d, side)):
                raise ValueError(
                    f"addIndexes: {d} has pending {side}; expunge/fold first"
                )

    os.makedirs(dst_dir, exist_ok=True)
    for sub in ("postings", "docs", "seg_norms", "bloom", "manifest"):
        os.makedirs(os.path.join(dst_dir, sub), exist_ok=True)

    import pyarrow as pa

    new_seg = 0
    base = 0
    for d in src_dirs:
        man_dir = os.path.join(d, "manifest")
        committed = sorted(
            int(f.split("=")[1].split(".")[0])
            for f in os.listdir(man_dir)
            if f.startswith("seg=")
        )
        for seg in committed:
            for sub in ("postings", "docs", "bloom"):
                src_sub = os.path.join(d, sub, f"seg={seg}")
                if os.path.isdir(src_sub):
                    shutil.copytree(
                        src_sub, os.path.join(dst_dir, sub, f"seg={new_seg}")
                    )
            # seg_norms: the only data file that bakes the global base in
            sn = pq.read_table(os.path.join(d, "seg_norms", f"seg={seg}"))
            n_docs = int(sn.column("n")[0].as_py())
            sn = sn.set_column(
                sn.schema.get_field_index("base"), "base",
                pa.array([base] * len(sn), type=sn.schema.field("base").type),
            )
            out_sn = os.path.join(dst_dir, "seg_norms", f"seg={new_seg}")
            os.makedirs(out_sn, exist_ok=True)
            pq.write_table(sn, os.path.join(out_sn, "part-0.parquet"))
            # manifest row: renumber seg, rebase — the commit marker last
            man = pq.read_table(os.path.join(man_dir, f"seg={seg}.parquet"))
            man = man.set_column(
                man.schema.get_field_index("seg"), "seg",
                pa.array([new_seg], type=man.schema.field("seg").type),
            )
            man = man.set_column(
                man.schema.get_field_index("base"), "base",
                pa.array([base], type=man.schema.field("base").type),
            )
            pq.write_table(
                man, os.path.join(dst_dir, "manifest", f"seg={new_seg}.parquet")
            )
            base += n_docs
            new_seg += 1

    IndexMeta(
        analyzer=m0.analyzer, key_cols=m0.key_cols, text_col=m0.text_col,
        positions=m0.positions, n_segments=new_seg, version=m0.version,
        keyword_cols=m0.keyword_cols,
    ).save(dst_dir)
    _finalize(spark, dst_dir)
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
    the live segment layout, execute via the salted two-phase merge with
    the explicit plan. Results are bitwise invariant (the merge property);
    the return value is the executed plan.

    Scale shape — the TieredMergePolicy cost model: ONLY the merged
    groups' bytes are read and rewritten (subset-plan salted two-phase
    merge); untouched segments move by file copy — on an object store a
    server-side copy / metadata commit, the ``addIndexes`` economics — so
    a policy round over 10^12 docs costs O(bytes actually merged), not a
    full index rewrite."""
    import shutil

    layout = _load_seg_layout(spark, src_dir)

    sizes = []
    for seg_id in layout.seg:
        sn = pq.read_table(
            os.path.join(src_dir, "seg_norms", f"seg={int(seg_id)}"), columns=["n"]
        )
        sizes.append((int(seg_id), int(sn.column("n")[0].as_py())))
    plan = find_merges(
        sizes, segs_per_tier=segs_per_tier, max_merged_docs=max_merged_docs
    )
    multi = [g for g in plan if len(g) > 1]
    if not multi:  # nothing to merge: the round is a pure file copy
        shutil.copytree(src_dir, dst_dir, dirs_exist_ok=True)
        return plan
    # 1. Spark-merge ONLY the multi-segment groups (subset plan)
    merge_segments(spark, src_dir, dst_dir, salt=salt, plan=multi, subset_ok=True)
    # 2. file-copy the untouched segments (ids/bases unchanged — global
    #    docIDs are stable, so no data rewrite is needed)
    for g in plan:
        if len(g) != 1:
            continue
        (seg,) = g
        for sub in ("postings", "docs", "bloom", "seg_norms"):
            src_sub = os.path.join(src_dir, sub, f"seg={seg}")
            if os.path.isdir(src_sub):
                shutil.copytree(src_sub, os.path.join(dst_dir, sub, f"seg={seg}"))
        man = os.path.join(src_dir, "manifest", f"seg={seg}.parquet")
        if os.path.exists(man):
            shutil.copy2(man, os.path.join(dst_dir, "manifest", f"seg={seg}.parquet"))
    # 3. meta: total segment count spans merged + copied
    meta = IndexMeta.load(dst_dir)
    IndexMeta(
        analyzer=meta.analyzer, key_cols=meta.key_cols, text_col=meta.text_col,
        positions=meta.positions, n_segments=len(plan), version=meta.version,
        keyword_cols=meta.keyword_cols,
    ).save(dst_dir)
    from .build import stamp_finalize_done

    stamp_finalize_done(dst_dir)  # meta + copied segments changed post-merge-stamp
    return plan
