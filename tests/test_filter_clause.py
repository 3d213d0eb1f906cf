"""FILTER occur (BooleanClause.Occur.FILTER): non-scoring candidate
restriction before top-k. WAND pruning must stay rank-identical to exact
under a filter (the filter only removes candidates, so block-max bounds
remain valid upper bounds), and surviving scores must be unchanged from the
unfiltered query (non-scoring clause)."""

import numpy as np
import pytest

from lucene_solr_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    index_dir, _ = small_index
    return IndexSearcher(spark, index_dir)


@pytest.fixture(scope="module")
def even_filter(spark, searcher):
    """Allow only docs with even conv hash — a ~50% selective filter."""
    from pyspark.sql import functions as F

    keys = searcher.docs.filter(
        (F.crc32(F.col("conv_id")) % 2) == 0
    ).select("conv_id", "turn_idx").distinct()
    # filter_map takes doc_key columns; the transcripts index keys on
    # (conv_id, turn_idx) so join on both via a composite frame
    rows = searcher.docs.join(keys, ["conv_id", "turn_idx"]).select("doc_id").collect()
    return searcher.by_base(r.doc_id for r in rows)


QUERIES = [("or2", ["error", "spark"]), ("and2", ["merge", "batch"]),
            ("term", ["stream"])]


@pytest.mark.parametrize("qtype,terms", QUERIES)
def test_wand_filter_matches_exact_filter(searcher, even_filter, qtype, terms):
    spec = searcher.parse(qtype, terms)
    w = searcher.search(spec, k=15, mode="wand", filter_by_base=even_filter).toPandas()
    e = searcher.search(spec, k=15, mode="exact", filter_by_base=even_filter).toPandas()
    assert len(w) == len(e)
    np.testing.assert_array_equal(w.doc_id.to_numpy(), e.doc_id.to_numpy())
    np.testing.assert_array_equal(
        w.score.to_numpy().astype(np.float32), e.score.to_numpy().astype(np.float32)
    )


def test_filter_is_non_scoring_and_restricting(searcher, even_filter):
    spec = searcher.parse("or2", ["error", "spark"])
    # k larger than any possible hit count so both result sets are complete
    unfiltered = searcher.search(spec, k=100_000, mode="exact").toPandas()
    filtered = searcher.search(spec, k=100_000, mode="exact", filter_by_base=even_filter).toPandas()
    allowed = {int(b + l) for b, ls in even_filter.items() for l in ls}
    assert set(filtered.doc_id) <= allowed
    assert set(filtered.doc_id) <= set(unfiltered.doc_id)
    # scores of surviving docs unchanged (FILTER contributes no score)
    m = unfiltered.set_index("doc_id").score
    for d, s in zip(filtered.doc_id, filtered.score):
        assert np.float32(s) == np.float32(m.loc[d])


def test_empty_filter_matches_nothing(searcher):
    spec = searcher.parse("or2", ["error", "spark"])
    out = searcher.search(spec, k=10, filter_by_base={}).toPandas()
    assert len(out) == 0


def test_cached_filter_map_is_memoized_and_correct(spark, searcher, even_filter):
    """filterCache analog: same cache_key returns the SAME compiled map
    (no recompute); results identical to the uncached path."""
    from pyspark.sql import functions as F

    keys = searcher.docs.filter(
        (F.crc32(F.col("conv_id")) % 2) == 0
    ).select("conv_id", "turn_idx").distinct()
    a = searcher.cached_filter_map(keys, "even")
    b = searcher.cached_filter_map(keys, "even")
    assert a is b  # cache hit — no second evaluation pass
    for base, arr in even_filter.items():
        import numpy as np
        np.testing.assert_array_equal(a[base], arr)
    spec = searcher.parse("and2", ["merge", "batch"])
    got = searcher.search(spec, k=15, filter_by_base=a).toPandas()
    want = searcher.search(spec, k=15, filter_by_base=even_filter).toPandas()
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)
