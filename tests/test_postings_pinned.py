"""Postings pinned bit for bit over the three segment writers: a seeded
``build_index`` (keyword columns, positions), a salted
``merge_segments(n_out=2, salt=2)`` of it and an ``expunge_deletes`` after
deleting some of its docs. One sha256 covers every postings row of each
index — term, df_part, ttf_part and all eight block fields, including the
``pos_bytes``, ``max_tf`` and ``min_norm`` that a manifest ``content_hash``
does not cover — so a refactor of the posting codec or of any writer must
keep the stored postings byte for byte.

The digest was computed at commit 88e9cf1 (the per-term encoder loops) on a
separate checkout of that commit and is unchanged by the segment-wide
codec."""

from __future__ import annotations

import hashlib

import pytest

from lucene_solr_spark.datagen import generate_transcripts
from lucene_solr_spark.index.build import build_index, read_manifest, read_segment
from lucene_solr_spark.index.codec import BLOCK_FIELDS
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.index.updates import delete_docs, expunge_deletes

PINNED = {
    "build": "d56a3c5f454b689d9f069368eb5bacdc43bedc4405142b762e5d525e51af74c1",
    "merge": "74f5de8dd83dacf872d183d39e181b4421717eaf2c18cb9e54b4d11137fa217c",
    "expunge": "4cfb1422ee9f5f0b544fcba53818b04402ba04e5052539862f7d1e4ef09870c3",
}


def _postings_digest(index_dir: str) -> str:
    h = hashlib.sha256()
    for seg in sorted(int(s) for s in read_manifest(index_dir)["seg"]):
        for row in read_segment(index_dir, "postings", seg).to_pylist():
            blocks = [tuple(b[f] for f in BLOCK_FIELDS) for b in row["blocks"]]
            h.update(repr((seg, row["term"], row["df_part"], row["ttf_part"], blocks)).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def digests(spark, tmp_path_factory):
    corpus = generate_transcripts(60, seed=7)
    corpus["tool"] = corpus["tool"].fillna("")
    root = tmp_path_factory.mktemp("pinned")
    src, merged, expunged = (str(root / n) for n in ("src", "merged", "expunged"))
    for d in (src, expunged):
        build_index(spark, spark.createDataFrame(corpus), d, n_segments=4,
                    keyword_cols=("role", "tool"))
    merge_segments(spark, src, merged, n_out=2, salt=2)
    victims = corpus[["conv_id", "turn_idx"]].iloc[3:200:4]
    delete_docs(spark, expunged, spark.createDataFrame(victims))
    expunge_deletes(spark, expunged)
    return {
        "build": _postings_digest(src),
        "merge": _postings_digest(merged),
        "expunge": _postings_digest(expunged),
    }


@pytest.mark.parametrize("writer", sorted(PINNED))
def test_postings_pinned(digests, writer):
    assert digests[writer] == PINNED[writer]
