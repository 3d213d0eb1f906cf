"""``IndexWriter#addIndexes(Directory...)`` analog (``index/merge.
add_indexes``): file-level segment grafting across indexes — renumbered
segments, re-derived bases, re-finalized global stats — must answer
bitwise like one index built over the union, and the grafted layout must
be CheckIndex-clean."""

import os
import shutil
import tempfile

import pandas as pd
import pytest

from lucene_solr_spark.engine import (
    addindexes_topk, get_addindexes_searcher, get_engine, shard_recipe,
)
from lucene_solr_spark.index.merge import add_indexes

SF = "/root/testdata/sf0.001"
TERMS = ["vector", "stream", "filter"]


def test_graft_bitwise_equals_single_collection(spark):
    grafted = addindexes_topk(spark, SF, "or3", TERMS, k=10).toPandas()
    single = get_engine(spark, SF, "simple").topk("or3", TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(grafted, single)


def test_grafted_layout_is_checkindex_clean(spark):
    from lucene_solr_spark.index.check import check_index

    searcher = get_addindexes_searcher(spark, SF)
    report = check_index(spark, searcher.index_dir).toPandas()
    assert (report["n_violations"] == 0).all(), report


def test_docs_union_and_bases_dense(spark):
    """Every source doc appears exactly once; internal ids are dense
    0..N−1 across the renumbered segments (base re-derivation)."""
    searcher = get_addindexes_searcher(spark, SF)
    docs = searcher.docs.select("doc_id", "doc_key").toPandas()
    n0 = get_engine(spark, SF, "simple", shard_recipe(0, 2)).searcher.stats.doc_count
    n1 = get_engine(spark, SF, "simple", shard_recipe(1, 2)).searcher.stats.doc_count
    assert len(docs) == n0 + n1
    assert sorted(docs["doc_id"]) == list(range(len(docs)))
    assert docs["doc_key"].is_unique


def test_schema_mismatch_rejected(spark):
    a = get_engine(spark, SF, "simple", shard_recipe(0, 2)).index_dir
    b = get_engine(spark, SF, "stop").index_dir
    dst = tempfile.mkdtemp(prefix="lss_addidx_reject_")
    shutil.rmtree(dst, ignore_errors=True)
    with pytest.raises(ValueError, match="schemas differ"):
        add_indexes(spark, [a, b], dst)
