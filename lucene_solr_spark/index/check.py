"""CheckIndex analog (``lucene/core/src/java/.../index/CheckIndex.java``,
surfaced as ``java -ea:org.apache.lucene... org.apache.lucene.index.CheckIndex``):
validate every structural invariant of an index the way Lucene's tool walks
segments — terms dictionary order, posting-block integrity (doc monotonicity,
stated vs decoded df/ttf, impact metadata max_tf/min_norm), position streams,
norm tables, and the cross-segment row-count/stats bookkeeping.

Scale shape: one task per SEGMENT (Lucene's ``-threadCount`` parallelism is
per-segment too) — the segment list is the manifest's (``build.read_manifest``,
the segment table every reader uses), each task reads only its own
postings/docs/seg_norms files with pyarrow and validates locally; no posting
bytes ever cross the shuffle or the driver. Cross-segment checks (marker
row counts, global stats) run on the per-segment summaries — O(segments)
rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from .codec import decode_block


def _check_segment(index_dir: str, seg: int, positions: bool) -> dict:
    """Validate one segment; returns a summary row with violation strings
    (empty list = clean) and ``n_live``, its live docs that have the field.
    Mirrors CheckIndex's per-segment part: terms, postings, norms, stored
    docs, live docs."""
    import pyarrow.parquet as pq

    from .updates import read_tombstones

    viol: list[str] = []
    docs_t = pq.read_table(os.path.join(index_dir, "docs", f"seg={seg}"))
    n_docs = len(docs_t)
    # parquet row order is NOT part of the format contract (a shuffled
    # merge writes rows in task order) — docvalues reads are by docID, so
    # the checker sorts by doc_local before validating density/norms
    dl = docs_t.column("doc_local").to_numpy()
    order = np.argsort(dl, kind="stable")
    if not np.array_equal(dl[order], np.arange(n_docs, dtype=dl.dtype)):
        viol.append("docs: doc_local is not a dense 0..n-1 range")
    norms_col = docs_t.column("norm").to_numpy()[order]
    live = docs_t.column("length").to_numpy() > 0
    dele = read_tombstones(index_dir, seg)
    if dele is not None:
        live &= ~np.isin(dl, dele)

    sn = pq.read_table(os.path.join(index_dir, "seg_norms", f"seg={seg}"))
    if sn.column("n")[0].as_py() != n_docs:
        viol.append("seg_norms: row count disagrees with docs table")
    packed = np.frombuffer(sn.column("norms")[0].as_py(), dtype=np.uint8)
    if len(packed) != n_docs:
        viol.append("seg_norms: packed norm array length mismatch")
    elif not np.array_equal(packed.astype(np.int64), norms_col.astype(np.int64)):
        viol.append("seg_norms: packed norms disagree with docs.norm")

    post_t = pq.read_table(os.path.join(index_dir, "postings", f"seg={seg}"))
    terms = post_t.column("term").to_pylist()
    if any(terms[i] >= terms[i + 1] for i in range(len(terms) - 1)):
        viol.append("terms: dictionary not strictly ascending")

    # bloom sidecar (BloomFilteringPostingsFormat analog): every stored term
    # MUST be admitted — a false negative would make the searcher silently
    # prune a segment that holds real hits. Missing sidecar is legal
    # (pre-upgrade segment: searcher admits-all), malformed/lying is not.
    bloom_path = os.path.join(index_dir, "bloom", f"seg={seg}")
    if os.path.isdir(bloom_path) and terms:
        try:
            from .bloom import bloom_admits

            bt = pq.read_table(bloom_path)
            b_m = int(bt.column("m")[0].as_py())
            b_bits = bt.column("bits")[0].as_py()
            if b_m <= 0 or len(b_bits) * 8 != b_m:
                viol.append("bloom: bit-length disagrees with stated m")
            else:
                miss = ~bloom_admits(b_bits, b_m, terms)
                if miss.any():
                    viol.append(
                        f"bloom: {int(miss.sum())} stored terms rejected "
                        f"(first: {terms[int(np.flatnonzero(miss)[0])]!r})"
                    )
        except Exception as e:  # corrupt sidecar must be reported, not raised
            viol.append(f"bloom: unreadable sidecar ({e})")
    n_postings = 0
    for ti in range(len(post_t)):
        term = terms[ti]
        df_stated = post_t.column("df_part")[ti].as_py()
        ttf_stated = post_t.column("ttf_part")[ti].as_py()
        blocks = post_t.column("blocks")[ti].as_py()
        df_dec, ttf_dec, prev_last = 0, 0, -1
        for bi, blk in enumerate(blocks):
            if positions:
                docs, tfs, pos = decode_block(blk, with_positions=True)
            else:
                docs, tfs = decode_block(blk)
                pos = None
            if len(docs) != blk["n"]:
                viol.append(f"term {term!r} block {bi}: stated n != decoded docs")
            if len(docs) and (docs[0] != blk["first_doc"] or docs[-1] != blk["last_doc"]):
                viol.append(f"term {term!r} block {bi}: first/last_doc mismatch")
            if np.any(np.diff(docs) <= 0):
                viol.append(f"term {term!r} block {bi}: docIDs not strictly increasing")
            if len(docs) and docs[0] <= prev_last:
                viol.append(f"term {term!r} block {bi}: overlaps previous block")
            docs_in_range = not (len(docs) and (docs[0] < 0 or docs[-1] >= n_docs))
            if not docs_in_range:
                viol.append(f"term {term!r} block {bi}: docID out of segment range")
            if np.any(tfs < 1):
                viol.append(f"term {term!r} block {bi}: tf < 1")
            if len(tfs) and int(tfs.max()) != blk["max_tf"]:
                viol.append(f"term {term!r} block {bi}: impact max_tf wrong")
            # min_norm indexes norms_col by docID — only safe when every
            # docID is in segment range; a checker must survive corrupt
            # input (CheckIndex reports, it doesn't crash), so the range
            # violation above subsumes this check for bad blocks.
            if docs_in_range and len(docs) and int(norms_col[docs].min()) != blk["min_norm"]:
                viol.append(f"term {term!r} block {bi}: impact min_norm wrong")
            if pos is not None:
                if len(pos) != int(tfs.sum()):
                    viol.append(f"term {term!r} block {bi}: position count != Σtf")
                else:
                    splits = np.cumsum(tfs)[:-1]
                    for run in np.split(pos, splits):
                        if len(run) > 1 and np.any(np.diff(run) <= 0):
                            viol.append(
                                f"term {term!r} block {bi}: positions not increasing"
                            )
                            break
            df_dec += len(docs)
            ttf_dec += int(tfs.sum())
            if len(docs):
                prev_last = int(docs[-1])
        if df_dec != df_stated:
            viol.append(f"term {term!r}: stated df {df_stated} != decoded {df_dec}")
        if ttf_dec != ttf_stated:
            viol.append(f"term {term!r}: stated ttf {ttf_stated} != decoded {ttf_dec}")
        n_postings += df_dec
    return {
        "seg": seg,
        "n_docs": n_docs,
        "n_terms": len(post_t),
        "n_postings": n_postings,
        "n_violations": len(viol),
        "violations": viol[:20],  # bounded row size; count is complete
        "n_live": int(live.sum()),
    }


_REPORT_SCHEMA = (
    "seg int, n_docs long, n_terms long, n_postings long, "
    "n_violations long, violations array<string>"
)


def check_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Distributed CheckIndex: one validation task per committed segment
    plus O(segments) cross-segment bookkeeping checks (each marker's
    n_docs, which the bases derive from, must count its docs table; global
    stats.doc_count must equal the non-tombstoned docs that HAVE the field
    — length-0 docs are excluded, the CollectionStatistics#docCount
    contract). Returns the
    per-segment report; a
    clean index has ``n_violations == 0`` everywhere (cross-segment
    findings attach to the smallest involved segment's row)."""
    from .build import IndexMeta, read_manifest
    from .updates import tombstone_files

    meta = IndexMeta.load(index_dir)
    tombstone_files(index_dir)  # a flat (pre-per-segment) tombstone file raises
    manifest = read_manifest(index_dir)
    segs = [int(s) for s in manifest["seg"]]
    positions = bool(meta.positions)

    def kern(pdfs):
        for pdf in pdfs:
            rows = [
                _check_segment(index_dir, int(s), positions) for s in pdf["seg"]
            ]
            yield pd.DataFrame(rows)

    seg_df = spark.createDataFrame(
        [(s,) for s in segs], "seg int"
    ).repartition(len(segs), "seg")
    report = seg_df.mapInPandas(kern, _REPORT_SCHEMA + ", n_live long").toPandas()
    report = report.sort_values("seg").reset_index(drop=True)

    import pyarrow.parquet as pq

    # cross-segment: the bases read_manifest derives are the cumsum of the
    # markers' n_docs, so each must count its segment's docs table
    extra = [
        f"seg {seg}: manifest n_docs {m} != docs rows {nd}"
        for seg, m, nd in zip(report["seg"], manifest["n_docs"], report["n_docs"])
        if int(m) != int(nd)
    ]
    stats_p = os.path.join(index_dir, "stats")
    if os.path.isdir(stats_p):
        stats = pq.read_table(stats_p).to_pandas().iloc[0]
        # docCount is Lucene CollectionStatistics#docCount: docs that HAVE
        # the field — an all-stopword doc has length 0, emits no postings,
        # and is rightly excluded from stats (a plain n_docs − tombstones
        # count would flag such corpora as corrupt; found by the
        # backup/restore test's 80-conv fixture, which contains one)
        live = int(report["n_live"].sum())
        if int(stats["doc_count"]) != live:
            extra.append(
                f"stats.doc_count {int(stats['doc_count'])} != live docs {live}"
            )
    if extra and len(report):
        i = 0
        report.at[i, "n_violations"] = int(report.at[i, "n_violations"]) + len(extra)
        report.at[i, "violations"] = list(report.at[i, "violations"]) + extra
    return spark.createDataFrame(report.drop(columns="n_live"), _REPORT_SCHEMA)
