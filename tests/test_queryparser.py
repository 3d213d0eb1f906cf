"""Classic QueryParser goldens (``L/queryparser/classic/QueryParser``,
default operator OR): query string → BooleanSpec, asserted against
hand-built expected specs so a parse bug cannot cancel out at the engine
level. Covers modifiers, conjunction promotion, phrases with stop holes,
groups, boosts, multi-term expansion, keyword fields, and error shapes."""

import pytest

from lucene_solr_spark.index.build import ANALYZERS, keyword_term
from lucene_solr_spark.search.query import (
    BooleanSpec,
    OrGroupClause,
    PhraseClause,
    TermClause,
)
from lucene_solr_spark.search.mm import calculate_min_should_match
from lucene_solr_spark.search.queryparser import (
    IMPOSSIBLE_TERM,
    parse_query_string,
)

AN = ANALYZERS["simple"]()
STOP = ANALYZERS["stop"]()


def p(q, analyzer=AN, **kw):
    return parse_query_string(q, analyzer, **kw)


def test_default_operator_or():
    assert p("merge batch") == BooleanSpec(
        should=[TermClause("merge"), TermClause("batch")]
    )


def test_plus_minus_modifiers():
    assert p("+merge -scan batch") == BooleanSpec(
        must=[TermClause("merge")],
        should=[TermClause("batch")],
        must_not=[TermClause("scan")],
    )


def test_and_promotes_previous():
    assert p("merge AND batch") == BooleanSpec(
        must=[TermClause("merge"), TermClause("batch")]
    )
    # ...but only the adjacent pair; OR leaves the third as SHOULD
    assert p("merge AND batch OR scan") == BooleanSpec(
        must=[TermClause("merge"), TermClause("batch")],
        should=[TermClause("scan")],
    )


def test_and_not():
    assert p("merge AND NOT batch") == BooleanSpec(
        must=[TermClause("merge")], must_not=[TermClause("batch")]
    )
    assert p("merge && !batch") == BooleanSpec(
        must=[TermClause("merge")], must_not=[TermClause("batch")]
    )


def test_boosts():
    assert p("batch^2 merge^0.5") == BooleanSpec(should=[
        TermClause("batch", 2.0), TermClause("merge", 0.5)
    ])


def test_phrase_with_slop_and_boost():
    assert p('"table hash"~2^3') == BooleanSpec(should=[
        PhraseClause(("table", "hash"), (0, 1), boost=3.0, slop=2)
    ])


def test_phrase_stop_holes():
    # stop chain: "hash the query" → terms (hash, query) at offsets (0, 2)
    assert p('"hash the query"', analyzer=STOP) == BooleanSpec(should=[
        PhraseClause(("hash", "query"), (0, 2))
    ])


def test_stopword_term_dropped():
    assert p("the merge", analyzer=STOP) == BooleanSpec(
        should=[TermClause("merge")]
    )


def test_group_disjunction():
    assert p("+merge (vector OR stream)") == BooleanSpec(
        must=[TermClause("merge")],
        should=[OrGroupClause(("vector", "stream"))],
    )
    assert p("(merge batch)^3") == BooleanSpec(should=[
        OrGroupClause(("merge", "batch"), 3.0)
    ])


def test_group_single_clause_unwraps():
    assert p("(merge)^2") == BooleanSpec(should=[TermClause("merge", 2.0)])
    assert p('("table hash")^2') == BooleanSpec(should=[
        PhraseClause(("table", "hash"), (0, 1), boost=2.0)
    ])


def test_prohibited_group_flattens_to_union():
    assert p("merge -(scan batch)") == BooleanSpec(
        should=[TermClause("merge")],
        must_not=[TermClause("scan"), TermClause("batch")],
    )


def test_required_group():
    assert p("merge AND (vector OR stream)") == BooleanSpec(
        must=[TermClause("merge"), OrGroupClause(("vector", "stream"))]
    )


def test_split_surface_word_becomes_disjunction():
    # "foo-bar" tokenizes to two terms → SHOULD boolean
    # (autoGeneratePhraseQueries=false)
    assert p("foo-bar") == BooleanSpec(should=[
        OrGroupClause(("foo", "bar"))
    ])


def test_keyword_field_filter_and_negation():
    kw = ("source", "lang")
    assert p("merge source:github", keyword_fields=kw) == BooleanSpec(
        should=[TermClause("merge")],
        filter=[TermClause(keyword_term("source", "github"))],
    )
    assert p("merge -lang:en", keyword_fields=kw) == BooleanSpec(
        should=[TermClause("merge")],
        must_not=[TermClause(keyword_term("lang", "en"))],
    )


def test_default_field_prefix_passthrough():
    assert p("text:merge") == BooleanSpec(should=[TermClause("merge")])


def test_multiterm_expansion():
    def expand(kind, pattern):
        assert (kind, pattern) in {
            ("prefix", "mer"),
            ("wildcard", "b_tch%"),
            ("fuzzy", ("merge", 1)),
            ("fuzzy", ("xqzv", 2)),
        }
        if kind == "prefix":
            return ["merge", "merger"]
        if kind == "wildcard":
            return ["batch"]
        if kind == "fuzzy" and pattern[0] == "merge":
            return ["merge", "merges"]
        return []

    assert p("mer*", expand=expand) == BooleanSpec(should=[
        OrGroupClause(("merge", "merger"))
    ])
    assert p("b?tch*", expand=expand) == BooleanSpec(should=[
        TermClause("batch")
    ])
    assert p("merge~1", expand=expand) == BooleanSpec(should=[
        OrGroupClause(("merge", "merges"))
    ])
    # a MUST multi-term that expands to nothing must match nothing —
    # compiled via the impossible sentinel (df=0 conjunction semantics)
    assert p("+xqzv~ merge", expand=expand) == BooleanSpec(
        must=[TermClause(IMPOSSIBLE_TERM)], should=[TermClause("merge")]
    )


def test_min_should_match_simple():
    # SolrPluginUtils#calculateMinShouldMatch goldens
    assert calculate_min_should_match(5, "3") == 3
    assert calculate_min_should_match(5, "-2") == 3
    assert calculate_min_should_match(4, "75%") == 3
    assert calculate_min_should_match(5, "75%") == 3   # int(3.75) truncates
    assert calculate_min_should_match(4, "-25%") == 3
    assert calculate_min_should_match(5, "-25%") == 4  # 5 + int(-1.25) = 4
    # clamping: more than n required → n; negative → 0
    assert calculate_min_should_match(2, "5") == 2
    assert calculate_min_should_match(2, "-5") == 0


def test_min_should_match_conditional():
    spec = "2<-25% 9<-3"
    # n <= 2: all optional clauses required
    assert calculate_min_should_match(1, spec) == 1
    assert calculate_min_should_match(2, spec) == 2
    # 2 < n <= 9: n - int(n*0.25)
    assert calculate_min_should_match(4, spec) == 3
    assert calculate_min_should_match(8, spec) == 6
    assert calculate_min_should_match(9, spec) == 7  # 9 + int(-2.25)
    # n > 9: n - 3
    assert calculate_min_should_match(10, spec) == 7
    assert calculate_min_should_match(20, spec) == 17
    # single conditional with positive spec
    assert calculate_min_should_match(5, "3<90%") == 4  # int(4.5)
    assert calculate_min_should_match(3, "3<90%") == 3  # n <= bound → all


def test_blended_term_clause_compile():
    """BlendedTermClause → or_group with SHARED max-df idf per member."""
    import numpy as np

    from lucene_solr_spark.search.bm25 import idf as bm25_idf
    from lucene_solr_spark.search.query import (
        BlendedTermClause,
        compile_query,
    )

    spec = BooleanSpec(should=[BlendedTermClause(
        ("batch", "batcher", "ghost"), (1.0, 0.5, 0.25)
    )])
    term_df = {"batch": 40, "batcher": 3}  # ghost is dead → dropped
    q = compile_query(spec, term_df, 100, np.zeros(1, np.float32), 10)
    (c,) = q.clauses
    assert c.kind == "or_group" and c.terms == ("batch", "batcher")
    idf_blend = bm25_idf(40, 100)  # max df across the LIVE expansion
    exp = (
        np.float32(1.0) * (np.float32(1.0) * idf_blend),
        np.float32(1.0) * (np.float32(0.5) * idf_blend),
    )
    assert c.member_weights == exp
    # all members dead + MUST → match-nothing
    q2 = compile_query(
        BooleanSpec(must=[BlendedTermClause(("ghost",), (1.0,))]),
        {}, 100, np.zeros(1, np.float32), 10,
    )
    assert not q2.clauses


def test_errors():
    with pytest.raises(ValueError, match="unbalanced"):
        p('"no closing')
    with pytest.raises(ValueError, match="unbalanced"):
        p("(merge")
    with pytest.raises(ValueError, match="unbalanced"):
        p("merge)")
    with pytest.raises(ValueError, match="unknown field"):
        p("nosuch:val")
    with pytest.raises(ValueError, match="group shape"):
        p("(+merge batch)")  # must inside a group: beyond the flat kernels
    with pytest.raises(ValueError, match="prohibited phrases"):
        p('-"table hash"')
    with pytest.raises(ValueError, match="expander"):
        p("mer*")  # multi-term without an index-backed expander
