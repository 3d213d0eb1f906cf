"""Multi-field eDisMax qf: each field is its own posting store with
independent collection statistics (L/index/FieldInfos per-field model);
the cross-field combine is dismax at tie=0 over f32 field-weighted
scores (S/search/ExtendedDismaxQParser qf)."""

import os

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_fielded_dismax_semantics(spark):
    from lucene_solr_spark.engine import (
        QF_BODY_W, QF_TITLE_W, TITLE, fielded_dismax_topk, get_engine,
    )

    body = get_engine(spark, SF, "simple")
    title = get_engine(spark, SF, "simple", TITLE)

    # independent per-field statistics: the 8-token title field must have a
    # far smaller avgdl than the body field
    b_stats = body.searcher.stats
    t_stats = title.searcher.stats
    assert t_stats.avgdl < b_stats.avgdl
    assert t_stats.doc_count == b_stats.doc_count

    qtype, terms, k = "or3", ["fast", "merge", "table"], 10
    got = fielded_dismax_topk(spark, SF, qtype, terms, k=k).toPandas()
    assert list(got.columns) == ["rank", "doc_id", "score"]
    assert len(got) == k and (got["rank"].to_numpy() == np.arange(1, k + 1)).all()

    # reference recompute: per-field unranked scores, f32 weight, max
    legs = {}
    for nm, eng, w in (("t", title, QF_TITLE_W), ("b", body, QF_BODY_W)):
        spec = eng.searcher.parse(qtype, terms, 0)
        h = (
            eng.searcher.hits(eng.searcher.compile(spec, k=1 << 30), mode="exact")
            .join(eng.searcher.docs.select("doc_key", "doc_id"), "doc_id")
            .select("doc_key", "score")
            .toPandas()
        )
        legs[nm] = {
            int(r.doc_key): np.float32(np.float32(w) * np.float32(r.score))
            for r in h.itertuples()
        }
    fused = {}
    for d in set(legs["t"]) | set(legs["b"]):
        fused[d] = max(
            legs["t"].get(d, np.float32("-inf")),
            legs["b"].get(d, np.float32("-inf")),
        )
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert [(int(r.doc_id), np.float32(r.score)) for r in got.itertuples()] == [
        (d, np.float32(s)) for d, s in want
    ]

    # the title leg must actually decide at least one top-k row (otherwise
    # the fixture degenerates to body-only and the dismax is untested)
    assert any(
        legs["t"].get(d, np.float32("-inf")) > legs["b"].get(d, np.float32("-inf"))
        for d, _ in want
    )


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_blended_term_df_semantics(spark):
    """BlendedTermQuery: per-term df blends to the max across fields, so
    the title leg scores with the body's (larger) df — different from the
    unblended per-field dismax wherever a term's dfs diverge."""
    from lucene_solr_spark.engine import (
        TITLE, blended_term_topk, get_engine,
    )

    title = get_engine(spark, SF, "simple", TITLE)
    body = get_engine(spark, SF, "simple")
    toks = ["fast", "merge", "table"]
    df_t, _ = title.searcher.term_stats_rows(toks)
    df_b, _ = body.searcher.term_stats_rows(toks)
    # the fixture must actually diverge, else blending is vacuous
    assert any(df_t.get(t, 0) < df_b.get(t, 0) for t in toks)

    got = blended_term_topk(spark, SF, toks, k=10).toPandas()
    assert len(got) == 10

    # unblended comparison: same spec, each field compiled with its OWN df
    legs = {}
    for nm, eng in (("t", title), ("b", body)):
        spec = eng.searcher.parse("or3", toks, 0)
        h = (
            eng.searcher.hits(eng.searcher.compile(spec, k=1 << 30), mode="exact")
            .join(eng.searcher.docs.select("doc_key", "doc_id"), "doc_id")
            .select("doc_key", "score")
            .toPandas()
        )
        legs[nm] = {int(r.doc_key): np.float32(r.score) for r in h.itertuples()}
    unblended = {
        d: max(legs["t"].get(d, np.float32("-inf")),
               legs["b"].get(d, np.float32("-inf")))
        for d in set(legs["t"]) | set(legs["b"])
    }
    blended = {int(r.doc_id): np.float32(r.score) for r in got.itertuples()}
    assert any(
        unblended.get(d) is None or unblended[d] != s for d, s in blended.items()
    )
