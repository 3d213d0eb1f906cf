"""DisjunctionMax, searchAfter paging, and MultiTermQuery expansion
(SURVEY.md §2.C/§2.D extras)."""

import numpy as np
import pytest

from lucene_solr_spark.search.bm25 import BOOLEAN, CLASSIC, DFR, F2EXP, LM, SWEETSPOT
from lucene_solr_spark.search.query import BooleanSpec, TermClause
from lucene_solr_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    index_dir, _ = small_index
    return IndexSearcher(spark, index_dir)


TERMS = ["error", "spark", "merg"]  # analyzed forms (merge → merg)


def _spec(dismax=False, tie=0.0):
    return BooleanSpec(should=[TermClause(t) for t in TERMS], dismax=dismax, tie=tie)


@pytest.mark.parametrize("mode", ["wand", "exact"])
def test_dismax_tie_one_equals_boolean_sum(searcher, mode):
    """tie=1 ⇒ max + 1·(Σ−max) = Σ — must equal the boolean OR bitwise."""
    a = searcher.search(_spec(), k=20, mode=mode).toPandas()
    b = searcher.search(_spec(dismax=True, tie=1.0), k=20, mode=mode).toPandas()
    np.testing.assert_array_equal(a.doc_id.to_numpy(), b.doc_id.to_numpy())
    np.testing.assert_array_equal(
        a.score.to_numpy().astype(np.float32), b.score.to_numpy().astype(np.float32)
    )


@pytest.mark.parametrize("mode", ["wand", "exact"])
def test_dismax_tie_zero_is_max_clause(searcher, oracle, mode):
    """tie=0 ⇒ score = max over matching clause scores (DisjunctionMaxQuery)."""
    got = searcher.search(_spec(dismax=True, tie=0.0), k=15, mode=mode).toPandas()
    assert len(got) > 0
    # recompute each hit's expected max-clause score from oracle primitives
    for _, r in got.iterrows():
        subs = []
        for t in TERMS:
            docs, tfs = oracle._term_postings(t)
            i = np.searchsorted(docs, r.doc_id)
            if i < len(docs) and docs[i] == r.doc_id:
                subs.append(float(oracle._clause_scores(
                    docs[i:i + 1], tfs[i:i + 1], oracle.idf(t))[0]))
        assert subs, f"doc {r.doc_id} matches no clause?"
        assert np.float32(max(subs)) == np.float32(r.score)


@pytest.mark.parametrize("mode", ["wand", "exact"])
def test_search_after_pages_tile_the_topk(searcher, mode):
    spec = _spec()
    k = 7
    full = searcher.search(spec, k=2 * k, mode=mode).toPandas()
    assert len(full) == 2 * k
    p1 = searcher.search(spec, k=k, mode=mode).toPandas()
    cursor = (np.float32(p1.score.iloc[-1]), int(p1.doc_id.iloc[-1]))
    p2 = searcher.search(spec, k=k, mode=mode, after=cursor).toPandas()
    got = np.concatenate([p1.doc_id.to_numpy(), p2.doc_id.to_numpy()])
    np.testing.assert_array_equal(got, full.doc_id.to_numpy())
    np.testing.assert_array_equal(
        np.concatenate([p1.score.to_numpy(), p2.score.to_numpy()]).astype(np.float32),
        full.score.to_numpy().astype(np.float32),
    )


def test_multiterm_expansion_and_equivalence(searcher):
    terms = searcher.expand_terms("prefix", "connect")
    assert terms and all(t.startswith("connect") for t in terms)
    # fuzzy: 'spark' within distance 1 finds itself
    assert "spark" in searcher.expand_terms("fuzzy", ("spark", 1))
    # set expansion keeps only indexed terms
    got = searcher.expand_terms("set", ("error", "zzznotindexed"))
    assert got == ["error"]
    # FuzzyQuery transpositions=true (Lucene DEFAULT): OSA distance —
    # 'psark' (transposition of 'spark') is ONE edit, plain Levenshtein two
    from lucene_solr_spark.search.searcher import _osa_distance

    assert _osa_distance("psark", "spark") == 1
    assert _osa_distance("ca", "abc") == 3      # OSA: no double-edit (full Damerau = 2)
    assert _osa_distance("spark", "spark") == 0
    assert "spark" in searcher.expand_terms("fuzzy_osa", ("psark", 1))
    assert "spark" not in searcher.expand_terms("fuzzy", ("psark", 1))
    # TermRangeQuery [lo, hi): lexicographic, includeLower/excludeUpper
    rng = searcher.expand_terms("range", ("spark", "sparl"))
    assert rng == ["spark"]  # lower bound inclusive, upper exclusive
    assert "spark" not in searcher.expand_terms("range", ("spar", "spark"))
    full = searcher.expand_terms("range", (None, None))
    assert set(rng) <= set(full) and len(full) > len(rng)  # open-ended
    # rewrite equivalence: multiterm spec ≡ explicit OR over expanded terms
    spec_mt = searcher.multiterm_spec("prefix", "connect")
    spec_or = BooleanSpec(should=[TermClause(t) for t in terms])
    a = searcher.search(spec_mt, k=10).toPandas()
    b = searcher.search(spec_or, k=10).toPandas()
    np.testing.assert_array_equal(a.doc_id.to_numpy(), b.doc_id.to_numpy())
    np.testing.assert_array_equal(
        a.score.to_numpy().astype(np.float32), b.score.to_numpy().astype(np.float32)
    )


def test_mlt_spec_terms_are_from_source_text(searcher):
    spec = searcher.more_like_this_spec("error spark merge segment merge merge", top_terms=3)
    terms = [c.term for c in spec.should]
    assert len(terms) == 3
    assert "merg" in terms  # tf=3 dominates tf·idf


def test_classic_similarity_wand_equals_exact(searcher):
    """ClassicSimilarity (TF-IDF): the block-max bound (sqrt(max_tf),
    min-norm lengthNorm) must keep WAND rank+score identical to brute
    force, same as BM25."""
    import pandas as pd

    spec = searcher.parse("or3", ["merge", "batch", "stream"], 0)
    q = searcher.compile(spec, k=20, similarity=CLASSIC)
    a = searcher.search(q, k=20, mode="wand").toPandas()
    b = searcher.search(q, k=20, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert (a.score.to_numpy() > 0).all()


def test_classic_and_bm25_rank_differently_but_share_index(searcher):
    """Same index, two similarities: both return k hits; scores differ
    (different formulas), proving the pluggable dispatch is live."""
    spec = searcher.parse("term", ["merge"], 0)
    bm = searcher.search(searcher.compile(spec, k=10), k=10).toPandas()
    cl = searcher.search(
        searcher.compile(spec, k=10, similarity=CLASSIC), k=10
    ).toPandas()
    assert len(bm) == len(cl) == 10
    assert not (bm.score.to_numpy() == cl.score.to_numpy()).all()


def test_boolean_similarity_scores_are_match_counts(searcher):
    """BooleanSimilarity: disjunction score == float(#matching clauses);
    WAND ≡ exact (constant block bounds)."""
    import numpy as np
    import pandas as pd

    spec = searcher.parse("or3", ["merge", "batch", "stream"], 0)
    q = searcher.compile(spec, k=30, similarity=BOOLEAN)
    a = searcher.search(q, k=30, mode="wand").toPandas()
    b = searcher.search(q, k=30, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert set(np.unique(a.score)) <= {1.0, 2.0, 3.0}


def test_lm_dirichlet_wand_equals_exact(searcher):
    """LMDirichlet: the clamped block bound (max_tf, min_norm) must keep
    WAND rank+score identical to brute force."""
    import pandas as pd

    spec = searcher.parse("or3", ["merge", "batch", "stream"], 0)
    q = searcher.compile(spec, k=25, similarity=LM)
    a = searcher.search(q, k=25, mode="wand").toPandas()
    b = searcher.search(q, k=25, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert (a.score.to_numpy() >= 0).all()


def test_f2exp_wand_equals_exact(searcher):
    """AxiomaticF2EXP: the clamped block bound (max_tf, min_norm) must keep
    WAND rank+score identical to brute force (same discipline as LM/DFR)."""
    import pandas as pd

    spec = searcher.parse("or3", ["merge", "batch", "stream"], 0)
    q = searcher.compile(spec, k=25, similarity=F2EXP)
    a = searcher.search(q, k=25, mode="wand").toPandas()
    b = searcher.search(q, k=25, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert (a.score.to_numpy() > 0).all()


def test_sweetspot_wand_equals_exact(searcher):
    """SweetSpotSimilarity: the table-max block bound (the plateau breaks
    min-norm monotonicity) must keep WAND rank+score identical to brute
    force — looser pruning, same results."""
    import pandas as pd

    spec = searcher.parse("or3", ["merge", "batch", "stream"], 0)
    q = searcher.compile(spec, k=25, similarity=SWEETSPOT)
    a = searcher.search(q, k=25, mode="wand").toPandas()
    b = searcher.search(q, k=25, mode="exact").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert (a.score.to_numpy() > 0).all()


def test_lm_phrase_unsupported_is_loud(searcher):
    import pytest as _pytest

    spec = searcher.parse("phrase2", ["table", "hash"], 0)
    with _pytest.raises(ValueError, match="lm phrase scoring not implemented"):
        searcher.compile(spec, k=10, similarity=LM)
    with _pytest.raises(ValueError, match="dfr phrase scoring not implemented"):
        searcher.compile(spec, k=10, similarity=DFR)


# --- SpanFirstQuery (L/search/spans/SpanFirstQuery) -------------------------

SPAN_TERM = "merg"  # analyzed form of "merge"


@pytest.mark.parametrize("end", [3, 8, 20])
def test_span_first_matches_brute_window_count(searcher, oracle, end):
    """tf = occurrences at pos < end (span end = pos+1 <= end); score = BM25
    with the window tf and idf(term) weight — recomputed independently from
    the analyzed corpus frame."""
    from lucene_solr_spark.search.query import SpanFirstClause

    spec = BooleanSpec(must=[SpanFirstClause(SPAN_TERM, end)])
    got = searcher.search(spec, k=50).toPandas()

    sub = oracle.frame[
        (oracle.frame.term == SPAN_TERM) & (oracle.frame.pos < end)
    ]
    cnt = sub.groupby("row").size()
    docs = cnt.index.to_numpy(dtype=np.int64)
    tfs = cnt.to_numpy(dtype=np.int64)
    scores = oracle._clause_scores(docs, tfs, oracle.idf(SPAN_TERM))
    order = np.lexsort((docs, -scores.astype(np.float64)))[:50]
    np.testing.assert_array_equal(got.doc_id.to_numpy(), docs[order])
    np.testing.assert_array_equal(
        got.score.to_numpy().astype(np.float32), scores[order]
    )


def test_span_first_unbounded_equals_term_query(searcher):
    """end beyond every doc length ⇒ identical to the plain TermQuery
    (window tf degenerates to full tf; weight is the same idf)."""
    from lucene_solr_spark.search.query import SpanFirstClause

    a = searcher.search(
        BooleanSpec(must=[SpanFirstClause(SPAN_TERM, 1 << 20)]), k=25
    ).toPandas()
    b = searcher.search(
        BooleanSpec(must=[TermClause(SPAN_TERM)]), k=25, mode="exact"
    ).toPandas()
    np.testing.assert_array_equal(a.doc_id.to_numpy(), b.doc_id.to_numpy())
    np.testing.assert_array_equal(
        a.score.to_numpy().astype(np.float32),
        b.score.to_numpy().astype(np.float32),
    )
