"""In-place numeric docvalues updates (``IndexWriter#updateNumericDocValue``,
``L/index/DocValuesUpdate.NumericDocValuesUpdate`` / dvGen stacking):
generations resolve latest-wins over the index-time base, the inverted
index is untouched, and the resolved values re-rank function boosts."""

import pandas as pd

from lucene_solr_spark.engine import (
    DV_UPD1_MOD, DV_UPD2_MOD, DV_UPDATED, get_engine,
)

SF = "/root/testdata/sf0.001"
TERMS = ["vector", "stream", "filter"]


def _expected(key: int) -> float:
    if key % DV_UPD2_MOD == 0:
        return float(key % 4 + 2)
    if key % DV_UPD1_MOD == 0:
        return float(key % 5 + 10)
    return float(key % 7 + 1)


def test_generation_stacking_latest_wins(spark):
    """Every doc resolves to gen-2 where written, else gen-1 where
    written, else the base — per key, exactly."""
    vals = get_engine(spark, SF, "simple", DV_UPDATED).dv_values().toPandas()
    got = dict(zip(vals["doc_key"].astype(int), vals["value"].astype(float)))
    assert got and all(got[k] == _expected(k) for k in got)


def test_postings_untouched(spark):
    """A docvalues-only update must not perturb postings/norms/stats: the
    plain BM25 page over the DV-updated index is bitwise the base
    engine's page."""
    upd = get_engine(spark, SF, "simple", DV_UPDATED).topk("or3", TERMS, k=10).toPandas()
    base = get_engine(spark, SF, "simple").topk("or3", TERMS, k=10).toPandas()
    pd.testing.assert_frame_equal(upd, base)


def test_boost_reranks_with_updated_values(spark):
    """The boosted page differs from the base-boost page somewhere — the
    updates actually reach ranking (a stale-generation read would
    reproduce base-only values and go unnoticed otherwise)."""
    import pyspark.sql.functions as F

    eng = get_engine(spark, SF, "simple", DV_UPDATED)
    page = eng.dv_boost_topk("or3", TERMS, k=10).toPandas()
    assert len(page) == 10 and list(page["rank"]) == list(range(1, 11))
    # recompute the boost locally from expected DV values over all hits
    spec = eng.searcher.parse("or3", TERMS, 0)
    hits = eng.searcher.search(spec, k=1 << 30, mode="exact", with_keys=True)
    df = hits.select("doc_key", "score").toPandas()
    import numpy as np

    dv = df["doc_key"].astype(int).map(_expected).astype(float)
    bs = (df["score"].astype("float64") * dv).astype("float32")
    order = sorted(
        zip(-bs.astype(float), df["doc_key"].astype(int)),
    )[:10]
    assert [k for _, k in order] == list(page["doc_id"].astype(int))


def test_generations_read_as_listed_paths(spark, monkeypatch):
    """The generation dirs reach ``spark.read.parquet`` as the explicit
    paths ``glob`` listed: a glob path makes Spark probe the literal
    ``gen=*`` for a sink log and log a FileNotFoundException stack."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: list[str] = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        seen.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    get_engine(spark, SF, "simple", DV_UPDATED).dv_values().count()
    gens = [p for p in seen if "dv_updates" in p]
    assert len(gens) == 2, seen
    assert not any("*" in p for p in seen), seen
