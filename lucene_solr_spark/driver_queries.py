"""Registry backing ``__spark_entry__.py``: every implemented operator gets a
(spark callable, DuckDB oracle SQL) pair the driver cross-checks at sf=0.01.

Each full-text entry is one ``ops.registry.register(name, fn, oracle)`` call
below — the registry the ``ops/`` modules fill — with the entry's engine call
and its oracle side by side. Full-text entries run the REAL engine end-to-end
(index build → WAND top-k) with the ``simple``/``stop`` analyzers whose
semantics are SQL-expressible (see oracles.py); the Porter chain is exercised
by ``entry()`` and pytest. An oracle analyzes its surfaces with its own
analyzer instance and never calls the engine's parser, expander or searcher.
Column names are aliased identically on both sides (driver hashes values
after sorting columns by name). Registration order is the driver's order
after ``PRIORITY_ORDER``, so entries are registered in that order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import (
    ASOF, ATOMIC_MOD, ATOMIC_OPERAND, ATOMIC_UPDATED, BASE, COPYFIELD,
    COPYFIELD_TEXT_EXPR, DBQ_DELETED, DBQ_TERM, DV_UPDATED, EXPUNGED, KNN_K,
    KNN_TEST_MOD, KNN_TOP_TERMS, PATREPLACE_TEXT_EXPR, PATREPLACE_TEXT_SQL,
    QF_BODY_W, QF_TITLE_W, RTG_APPENDED, RTG_DOCS, TITLE_EXPR_SQL,
    UNICODE_TEXT_EXPR, UNICODE_TEXT_SQL, UPDATE_MOD, UPDATE_SUFFIX, UPDATED,
    URLEMAIL_TEXT_EXPR, URLEMAIL_TEXT_SQL, DocumentsEngine, IndexRecipe,
    addindexes_topk, blended_term_topk, complex_phrase_parts, exactstats_topk,
    field_masking_span_topk, fielded_dismax_topk, get_engine, knn_classify,
    localstats_topk, split_union_topk, tiered_merge_topk,
)
from .index.build import ANALYZERS, KEYWORD_PREFIX, keyword_term, read_term_stats
from .oracles import (
    after_dbq_topk_sql, after_update_topk_sql, analysis_debug_sql, base_ctes,
    bf_topk_sql, blended_term_topk_sql, blockjoin_children_sql,
    blockjoin_scores_sql, blockjoin_sql, bm25_topk_sql, boost_by_query_sql,
    boostfunc_topk_sql, collection_stats_sql, common_terms_topk_sql,
    complex_phrase_topk_sql, constant_score_sql, covering_topk_sql,
    cursor_page2_sql, dfi_topk_sql, dfr_topk_sql, dismax_topk_sql,
    diversified_topk_sql, docs_norms_sql, docsonly_topk_sql,
    dv_boost_topk_sql, elevate_topk_sql, explain_sql, external_file_boost_sql,
    f2exp_topk_sql, facet_block_children_sql, facet_on_query_sql,
    feature_log_topk_sql, feature_sigmoid_topk_sql, feature_topk_sql,
    field_masking_span_topk_sql, field_summary_sql, fielded_dismax_topk_sql,
    fixture_text_topk_sql, fq_cached_topk_sql, frange_sql, funcexpr_topk_sql,
    fuzzy_blended_topk_sql, group_facet_sql, group_query_topk_sql,
    highlight_passages_sql, highlight_topk_sql, ib_topk_sql,
    interval_unordered_topk_sql, join_filter_topk_sql, join_score_topk_sql,
    knn_classify_sql, lm_topk_sql, lmjm_topk_sql, localstats_topk_sql,
    ltr_feature_log_sql, ltr_rescore_sql, ltr_trees_sql, mlt_terms_sql,
    mlt_text_topk_sql, mlt_topk_sql, monitor_matches_sql, multiterm_topk_sql,
    omitnorms_topk_sql, phonetic_topk_sql, phrase_prefix_topk_sql,
    rerank_topk_sql, result_clusters_sql, rrf_topk_sql, rtg_sql,
    sloppy_phrase_topk_sql, sorted_topk_sql, span_contain_topk_sql,
    span_first_topk_sql, span_multiterm_topk_sql, span_near_or_topk_sql,
    span_near_topk_sql, span_not_topk_sql, span_or_topk_sql,
    spellcheck_collate_sql, stats_on_query_sql, suggest_blended_infix_sql,
    suggest_freetext_sql, suggest_fuzzy_prefix_sql, suggest_sql,
    surround_or_topk_sql, sweetspot_topk_sql, synonym_topk_sql, tagger_sql,
    term_stats_sql, term_vectors_sql, terms_enum_regex_sql, terms_enum_sql,
    tfidf_topk_sql, total_hits_sql, word_break_sql,
)
from .ops.registry import ops_oracles, ops_queries, register
from .search.bm25 import (
    BOOLEAN, CLASSIC, DFI, DFR, DOCSONLY, F2EXP, IB, LM, LMJM, SWEETSPOT,
    Similarity, bm25_tuned,
)
from .search.mm import calculate_min_should_match
from .search.query import (
    BlendedTermClause, BooleanSpec, IntervalUnorderedClause, MultiPhraseClause,
    OrGroupClause, PhraseClause, SpanContainClause, SpanFirstClause,
    SpanNearOrClause, SpanNotClause, SpanOrClause, SynonymClause, TermClause,
    parse_fixture_query,
)
from .search.queryparser import parse_query_string
from .search.simpleparser import parse_simple
from .search.surround import parse_surround

# the oracle side's own analyzer (the engine analyzes with its searcher's)
_SIMPLE = ANALYZERS["simple"]()

# surfaces shared by many entries
OR3 = ["vector", "stream", "filter"]
MERGE_BATCH = ["merge", "batch"]
OR3_TERMS = [t for s in OR3 for t, _ in _SIMPLE.analyze(s)]
# terms the update recipes (update, expunge, as-of, atomic, dbq) search
AFTER_UPDATE_TERMS = ["vector", "stream", "refresh"]


def _tok(an, surface: str) -> str:
    """The first analyzed term of ``surface``."""
    return an.analyze(surface)[0][0]


def _fixture(qtype: str, surfaces, msm: int = 0, analyzer: str = "simple", **kw) -> BooleanSpec:
    """Oracle-side FIXTURES.md query spec: ``parse_fixture_query``, the
    helper the engine's ``searcher.parse`` runs over its own analyzer."""
    return parse_fixture_query(ANALYZERS[analyzer](), qtype, surfaces, msm, **kw)


def _call(method, *args, analyzer: str = "simple", recipe: IndexRecipe = BASE, **kwargs):
    """Entry fn: one ``DocumentsEngine`` method on the (analyzer, recipe) engine."""
    return lambda spark, sf_dir: method(
        get_engine(spark, sf_dir, analyzer, recipe), *args, **kwargs
    )


def _ranked(build, analyzer: str = "simple", mode: str = "wand"):
    """Entry fn: ``build(searcher)`` — a spec or a compiled query — ranked
    top-10 through ``DocumentsEngine.ranked``."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = get_engine(spark, sf_dir, analyzer)
        return eng.ranked(build(eng.searcher), mode=mode)

    return run


def _sim(similarity: Similarity):
    """Entry fn: the or3 fixture ranked under a pluggable similarity over
    the same index and norm bytes (``L/search/similarities/*``)."""
    return _ranked(lambda s: s.compile(s.parse("or3", OR3), 10, similarity=similarity))


def _same_position(an, surface: str) -> list[tuple[str, ...]]:
    """Analyzed terms grouped by position (``L/util/QueryBuilder#
    analyzeGraphBoolean``): same-position tokens form one synonym group."""
    by_pos: dict[int, list[str]] = {}
    for t, p in an.analyze(surface):
        by_pos.setdefault(p, []).append(t)
    return [tuple(dict.fromkeys(by_pos[p])) for p in sorted(by_pos)]


def _fuzzy_blended(s, target: str, max_edits: int, max_expansions: int) -> BooleanSpec:
    """FuzzyQuery's default rewrite (``L/search/FuzzyQuery`` →
    ``TopTermsBlendedFreqScoringRewrite``): dictionary terms within
    ``max_edits`` become one blended clause (df = max df over the
    expansion), each boosted 1 − ed/min(|term|, |target|) in f32
    (``FuzzyTermsEnum`` op order), top ``max_expansions`` by (boost desc,
    term asc). One pruned term_stats scan with a JVM ``levenshtein`` filter."""
    t = target.lower()
    rows = (
        read_term_stats(s.spark, s.index_dir)
        .filter(~F.col("term").startswith(KEYWORD_PREFIX))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(t)))
        .filter(F.col("dist") <= max_edits)
        .select("term", "dist")
        .collect()
    )
    cands = sorted(
        ((float(np.float32(1.0) - np.float32(r.dist) / np.float32(min(len(r.term), len(t)))), r.term)
         for r in rows),
        key=lambda c: (-c[0], c[1]),
    )[:max_expansions]
    return BooleanSpec(should=[BlendedTermClause(
        tuple(term for _, term in cands), tuple(b for b, _ in cands),
    )])


def _phrase(an, text: str) -> tuple[tuple[str, ...], tuple[int, ...]]:
    """(terms, offsets from the first position) of an analyzed phrase."""
    analyzed = an.analyze(text)
    return tuple(t for t, _ in analyzed), tuple(p - analyzed[0][1] for _, p in analyzed)


def _edismax_mm(an, q: str, mm: str) -> BooleanSpec:
    """eDisMax: the query's whitespace terms as SHOULD clauses, ``mm``
    resolved against their count (``SolrPluginUtils#calculateMinShouldMatch``)."""
    should = [TermClause(t) for w in q.split() for t, _ in an.analyze(w)]
    return BooleanSpec(should=should, min_should_match=calculate_min_should_match(len(should), mm))


# --- FIXTURES.md query shapes over the analyzer chains ---------------------
# (name, analyzer, qtype, surface terms, min_should, k). Token-graph chains
# (synonym replace / shingle 2-grams / edge n-grams) analyze the query through
# the SAME chain, so "row" becomes the merged canonical term, "table hash"
# expands to unigrams+shingle and "merge" to its edge grams.
for _name, _an, _qt, _surfaces, _msm, _k in (
    ("ft_term_topk", "simple", "term", ["spark"], 0, 10),
    ("ft_term_rare_topk", "simple", "term", ["dup"], 0, 30),
    ("ft_and2_topk", "simple", "and2", ["merge", "batch"], 0, 10),
    ("ft_and3_topk", "simple", "and3", ["vector", "stream", "dup"], 0, 10),
    ("ft_or3_topk", "simple", "or3", ["vector", "stream", "filter"], 0, 10),
    ("ft_or_minshould_topk", "simple", "or_minshould", ["query", "scan", "sort", "window"], 2, 10),
    ("ft_andnot_topk", "simple", "and_not", ["table", "join"], 0, 10),
    ("ft_phrase_topk", "simple", "phrase2", ["table", "hash"], 0, 10),
    ("ft_stop_term_topk", "stop", "term", ["window"], 0, 10),
    ("ft_stop_and2_topk", "stop", "and2", ["key", "group"], 0, 10),
    ("ft_stop_phrase_hole_topk", "stop", "phrase2", ["hash the", "query"], 0, 10),
    ("ft_synonym_topk", "synonym", "term", ["row"], 0, 10),
    ("ft_shingle_topk", "shingle", "term", ["table hash"], 0, 10),
    ("ft_edgegram_topk", "edgegram", "term", ["merge"], 0, 10),
    # NGramTokenFilter(2,4): 'erg' → the er/rg/erg gram disjunction
    # (substring matching — finds 'merge' interiors)
    ("ft_ngram_topk", "ngram", "term", ["erg"], 0, 10),
    # upstream-default preserveOriginal=false: 1-char source tokens ('a')
    # emit nothing and leave the norm length, so scores differ from ft_ngram
    ("ft_ngram_strict_topk", "ngramstrict", "term", ["erg"], 0, 10),
    # ASCIIFolding / EnglishPossessive: the query surfaces carry the
    # accents/possessives; the driver corpus is pure ASCII (index-side
    # identity there) — corpus-side behavior is certified by pytest goldens
    ("ft_asciifold_topk", "asciifold", "and2", ["mérge", "bätch"], 0, 10),
    ("ft_possessive_topk", "possessive", "and2", ["merge's", "batch’s"], 0, 10),
    # WhitespaceAnalyzer (case + punctuation preserved, no filters)
    ("ft_whitespace_topk", "whitespace", "and2", ["merge", "batch"], 0, 10),
    # CommonGramsFilter: 'hash the' → unigrams + the hash_the common-gram
    ("ft_commongrams_topk", "commongrams", "term", ["hash the"], 0, 10),
    # LengthFilter(3, 8): out-of-band tokens drop with position holes and
    # shrink norms (FilteringTokenFilter)
    ("ft_lengthfilter_topk", "length", "and2", ["merge", "batch"], 0, 10),
    # LimitTokenCountFilter(40): 329/500 sf0.01 docs exceed the cut — late
    # matches vanish AND every truncated doc's norm shrinks to 40
    ("ft_limitcount_topk", "limitcount", "and2", ["merge", "batch"], 0, 10),
    # WordDelimiterGraphFilter: 'Merge-Batch' splits to consecutive-position
    # parts → an exact phrase across the split (corpus side: test_worddelim)
    ("ft_worddelim_topk", "worddelim", "phrase2", ["Merge-Batch"], 0, 10),
):
    register(
        _name,
        _call(DocumentsEngine.topk, _qt, _surfaces, k=_k, min_should=_msm, analyzer=_an),
        bm25_topk_sql(_an, _fixture(_qt, _surfaces, _msm, _an), _k),
    )

# --- MultiTermQuery rewrites (L/search/MultiTermQuery) ---------------------
# (name, kind, engine pattern, oracle SQL predicate)
for _name, _kind, _pattern, _pred in (
    ("ft_prefix_topk", "prefix", "s", "term LIKE 's%'"),
    ("ft_wildcard_topk", "wildcard", "s%w", "term LIKE 's%w'"),
    ("ft_fuzzy_topk", "fuzzy", ("batc", 1), "levenshtein(term, 'batc') <= 1"),
    # leading wildcard *er via the reversed-dictionary sidecar
    # (ReversedWildcardFilterFactory): a prefix range on rterm
    ("ft_leadwild_topk", "leading_wildcard", "er", "term LIKE '%er'"),
    ("ft_regexp_topk", "regexp", "key|hash", "regexp_full_match(term, 'key|hash')"),
    ("ft_set_topk", "set", ("table", "join", "key"), "term IN ('table', 'join', 'key')"),
    # TermRangeQuery: lexicographic [lo, hi) over the term dictionary
    ("ft_termrange_topk", "range", ("sc", "st"), "term >= 'sc' AND term < 'st'"),
    # FuzzyQuery with transpositions=true (Lucene's default): OSA distance;
    # at maxEdits=1 OSA ≡ unrestricted Damerau, so DuckDB's builtin is exact
    ("ft_fuzzy_osa_topk", "fuzzy_osa", ("bacth", 1), "damerau_levenshtein(term, 'bacth') <= 1"),
):
    register(
        _name,
        _ranked(lambda s, kind=_kind, pattern=_pattern: s.multiterm_spec(kind, pattern)),
        multiterm_topk_sql("simple", _pred, 10),
    )

# L/search/CoveringQuery: per-doc minimumNumberMatched = 1 + (docID % 3)
register(
    "ft_covering_topk",
    _ranked(lambda s: BooleanSpec(
        should=[TermClause(_tok(s.analyzer, w)) for w in OR3], covering_mod=3,
    )),
    covering_topk_sql("simple", [_tok(_SIMPLE, w) for w in OR3], 3, 10),
)
# MatchAllDocsQuery under fq (q=*:* fq=source:src3): constant score 1.0,
# doc-key order; the oracle reads the fq straight off the source table
register(
    "ft_matchall_fq",
    _call(DocumentsEngine.matchall_topk, "source", "src3", k=10),
    """
SELECT doc_id::BIGINT AS doc_id, CAST(1.0 AS FLOAT) AS score
FROM documents WHERE source = 'src3'
ORDER BY doc_id LIMIT 10""",
)
# L/queryparser/simple/SimpleQueryParser (never-throws grammar). The oracle
# spec is HAND-BUILT from the documented parse — '+' promotes every atom
# (the analyzed phrase too) to MUST, '-scan' prohibits — so a parse bug
# cannot cancel out
register(
    "ft_simpleqp_topk",
    _ranked(lambda s: parse_simple(
        '+merge +batch -scan "table hash"', s.analyzer, expand=s.expand_terms,
    )),
    bm25_topk_sql("simple", BooleanSpec(
        must=[
            TermClause(_tok(_SIMPLE, "merge")),
            TermClause(_tok(_SIMPLE, "batch")),
            PhraseClause((_tok(_SIMPLE, "table"), _tok(_SIMPLE, "hash")), (0, 1)),
        ],
        must_not=[TermClause(_tok(_SIMPLE, "scan"))],
    ), 10),
)
# L/search/spans/SpanMultiTermQueryWrapper: prefix 's' rewritten into a
# SpanOr union, ordered span-near with 'merge' at slop 3
register(
    "ft_spanmulti_topk",
    _ranked(lambda s: BooleanSpec(should=[SpanNearOrClause(
        (tuple(s.expand_terms("prefix", "s")), (_tok(s.analyzer, "merge"),)), 3,
    )])),
    span_multiterm_topk_sql("simple", "term LIKE 's%'", "merge", 3, 10),
)
# lucene/queryparser/surround: W = ordered, N = unordered span near;
# distances 2 and 3 are span slops 1 and 2 (DistanceQuery's opDistance-1)
SURROUND_CLAUSES = [("w", "merge", "batch", 1), ("n", "vector", "filter", 2)]
register(
    "ft_surround_topk",
    _ranked(lambda s: parse_surround("2W(merge, batch) OR 3N(vector, filter)", s.analyzer)),
    surround_or_topk_sql("simple", SURROUND_CLAUSES, 10),
)
# L/search/SynonymQuery: explicit query-time synonyms scored as ONE
# pseudo-term (tf summed, df = max); both members occur in the corpus
register(
    "ft_synonymquery_topk",
    _ranked(lambda s: BooleanSpec(should=[
        SynonymClause(tuple(_tok(s.analyzer, w) for w in ("merge", "join"))),
    ])),
    synonym_topk_sql("simple", [tuple(_tok(_SIMPLE, w) for w in ("merge", "join"))], 10),
)
# KeywordRepeat chain + QueryBuilder position-graph rule: 'tables' analyzes
# to original+stem at one position → SynonymQuery(tables, table)
register(
    "ft_keywordrepeat_topk",
    _ranked(lambda s: BooleanSpec(should=[
        SynonymClause(g) if len(g) > 1 else TermClause(g[0])
        for g in _same_position(s.analyzer, "tables")
    ]), analyzer="keywordrepeat"),
    synonym_topk_sql("keywordrepeat", _same_position(ANALYZERS["keywordrepeat"](), "tables"), 10),
)
# L/search/DisjunctionMaxQuery over the or3 terms, tie 0.3
register(
    "ft_dismax_topk",
    _ranked(lambda s: replace(s.parse("or3", OR3), dismax=True, tie=0.3)),
    dismax_topk_sql("simple", OR3, 0.3, 10),
)
register(
    "ft_mlt_topk",
    _call(DocumentsEngine.mlt_topk, 42, top_terms=5, k=10),
    mlt_topk_sql("simple", 42, 5, 10),
)
# MLT interestingTerms=details: the ranked tf·idf term list itself
register(
    "ft_mlt_terms",
    _call(DocumentsEngine.mlt_terms, 42, top_terms=8),
    mlt_terms_sql("simple", 42, 8),
)
# edismax bf= (ADDITIVE function boost; distinct from multiplicative boost=)
register(
    "ft_bf_topk",
    _call(DocumentsEngine.bf_topk, "and2", MERGE_BATCH, k=10),
    bf_topk_sql("simple", _fixture("and2", MERGE_BATCH), 10),
)
# ExternalFileField: per-doc float from a side table keyed on doc id
# (reloadable without reindex) as an additive boost
register(
    "ft_extfile_boost_topk",
    _call(DocumentsEngine.external_file_boost_topk, "and2", MERGE_BATCH, k=10),
    external_file_boost_sql("simple", _fixture("and2", MERGE_BATCH), 10),
)
# FunctionScoreQuery#boostByQuery: ×1.8 for docs also matching 'spark'
register(
    "ft_boost_by_query_topk",
    _call(DocumentsEngine.boost_by_query_topk, "or3", OR3, "term", ["spark"], 1.8, k=10),
    boost_by_query_sql("simple", _fixture("or3", OR3), _fixture("term", ["spark"]), 1.8, 10),
)
# IndexSearcher#searchAfter: page 2 from page 1's cursor
register(
    "ft_page2_topk",
    _call(DocumentsEngine.search_after_page, "and2", MERGE_BATCH, k=10),
    bm25_topk_sql("simple", _fixture("and2", MERGE_BATCH), 10, offset=10),
)
# ToChildBlockJoin: children of the top-2 parents, parent score propagated
register(
    "ft_blockjoin_children",
    _call(DocumentsEngine.blockjoin_children, "or2", ["dup", "vector"], n_parents=2),
    blockjoin_children_sql("simple", ["dup", "vector"], 2),
)
register(
    "ft_blockjoin_source",
    _call(DocumentsEngine.blockjoin_by_source, "or2", ["dup", "vector"], n_groups=5),
    blockjoin_sql("simple", ["dup", "vector"], 5),
)
# ToParentBlockJoin ScoreMode.Max/Total/Avg side by side (ordered
# deterministic double fold for Total; Avg = total/count)
register(
    "ft_blockjoin_scores",
    _call(DocumentsEngine.blockjoin_scores, "or2", ["dup", "vector"], n_groups=5),
    blockjoin_scores_sql("simple", _fixture("or2", ["dup", "vector"]), 5),
)
# FeatureField newSaturationQuery / newLogQuery / newSigmoidQuery over the
# static feature x = n_chars: bm25 + boost·S(x)
register(
    "ft_feature_topk",
    _call(DocumentsEngine.feature_topk, "or3", OR3, pivot=200.0, boost=1.8, k=10),
    feature_topk_sql("simple", _fixture("or3", OR3), 200.0, 1.8, 10),
)
register(
    "ft_feature_log_topk",
    _call(DocumentsEngine.feature_log_topk, "or3", OR3, scale=1.0, boost=1.8, k=10),
    feature_log_topk_sql("simple", _fixture("or3", OR3), 1.0, 1.8, 10),
)
register(
    "ft_feature_sigmoid_topk",
    _call(DocumentsEngine.feature_sigmoid_topk, "or3", OR3, pivot=200.0, a=2.0, boost=1.8, k=10),
    feature_sigmoid_topk_sql("simple", _fixture("or3", OR3), 200.0, 2.0, 1.8, 10),
)
# Reciprocal Rank Fusion of two WAND top-40 legs, k0=60
register(
    "ft_rrf_topk",
    _call(DocumentsEngine.rrf_topk, "or3", OR3, "and2", MERGE_BATCH, n=40, k0=60, k=10),
    rrf_topk_sql("simple", _fixture("or3", OR3), _fixture("and2", MERGE_BATCH), 40, 60, 10),
)
# L/search/BoostQuery: per-clause boosts folded into f32 weights
BOOST_TERMS = [("vector", 2.5), ("stream", 1.0), ("filter", 0.5)]
register(
    "ft_boost_topk",
    _ranked(lambda s: BooleanSpec(should=[
        TermClause(t, b) for w, b in BOOST_TERMS for t, _ in s.analyzer.analyze(w)
    ])),
    bm25_topk_sql("simple", BooleanSpec(should=[
        TermClause(t, b) for w, b in BOOST_TERMS for t, _ in _SIMPLE.analyze(w)
    ]), 10),
)
# explain / debugQuery: per-term BM25 breakdown for one doc
register(
    "ft_explain",
    _call(DocumentsEngine.explain, "or3", ["merge", "batch", "stream"], 42),
    explain_sql("simple", [t for t, _ in _SIMPLE.analyze("merge batch stream")], 42),
)
# BooleanClause.Occur.FILTER: the keyword posting restricts candidates
# before ranking, weight 0
register(
    "ft_filter_topk",
    _ranked(lambda s: replace(
        s.parse("or3", ["merge", "batch", "scan"]),
        filter=[TermClause(keyword_term("source", "src3"))],
    )),
    bm25_topk_sql(
        "simple", _fixture("or3", ["merge", "batch", "scan"]), 10,
        filter_pred="source = 'src3'",
    ),
)
# SloppyPhrase (SloppyPhraseMatcher) vs a WITH RECURSIVE DuckDB emulation of
# the 2-term greedy heap walk; n>2 parity is gated by test_sloppy_phrase.py
SLOPPY_PHRASE = _fixture("phrase2", ["table", "hash"], slop=3).must[0]
register(
    "ft_sloppy_phrase_topk",
    _call(DocumentsEngine.topk, "phrase2", ["table", "hash"], k=10, slop=3),
    sloppy_phrase_topk_sql("simple", SLOPPY_PHRASE.terms, SLOPPY_PHRASE.offsets, 3, 10),
)
# TotalHits (value, relation) — numFound with the count collector
register(
    "ft_total_hits",
    _call(DocumentsEngine.total_hits, "or3", OR3, threshold=250),
    total_hits_sql("simple", OR3_TERMS, 250),
)
# deletes/updates: tombstone + re-add, then search the live corpus
AFTER_UPDATE_SQL = after_update_topk_sql(
    "simple", [t for s in AFTER_UPDATE_TERMS for t, _ in _SIMPLE.analyze(s)],
    10, UPDATE_MOD, UPDATE_SUFFIX,
)
register(
    "ft_after_update_topk",
    _call(DocumentsEngine.topk, "or3", AFTER_UPDATE_TERMS, k=10, recipe=UPDATED),
    AFTER_UPDATE_SQL,
)
# expungeDeletes (forceMergeDeletes): the SAME update, then the tombstones
# are physically rewritten out — same oracle, so a compaction bug anywhere
# in the rewrite goes hash-red
register(
    "ft_after_expunge_topk",
    _call(DocumentsEngine.topk, "or3", AFTER_UPDATE_TERMS, k=10, recipe=EXPUNGED),
    AFTER_UPDATE_SQL,
)
# PatternReplaceFilter / UAX29URLEmailTokenizer / full UAX#29 word break
# over injected fixture text (digits / URLs+emails / Cyrillic+Greek suffixes
# appended by doc_id; the SAME expression runs in DuckDB): 'merge42' strips
# to 'merge', each URL/email analyzes to ONE token
for _name, _an, _qt, _surfaces, _expr, _sql in (
    ("ft_patreplace_topk", "patreplace", "and2", ["merge42", "batch7"],
     PATREPLACE_TEXT_EXPR, PATREPLACE_TEXT_SQL),
    ("ft_urlemail_topk", "urlemail", "or2",
     ["https://docs.example.org/merge-guide", "dev-team@spark.test"],
     URLEMAIL_TEXT_EXPR, URLEMAIL_TEXT_SQL),
    ("ft_unicode_topk", "uni", "or2", ["поиск", "κείμενο"], UNICODE_TEXT_EXPR, UNICODE_TEXT_SQL),
):
    register(
        _name,
        _call(DocumentsEngine.topk, _qt, _surfaces, k=10, analyzer=_an,
              recipe=IndexRecipe(text_expr=_expr)),
        fixture_text_topk_sql(_an, _fixture(_qt, _surfaces, 0, _an), 10, _sql),
    )
# MinHashFilter LSH fingerprint index: docs index as their 16-bucket
# signatures; MLT over doc 45's signature ranks by shared buckets (doc 45
# has a three-way near-dup family at sf0.01)
register(
    "ft_minhash_sim_topk",
    _call(DocumentsEngine.mlt_topk, 45, top_terms=16, k=10, analyzer="minhashsig"),
    mlt_topk_sql("minhashsig", 45, 16, 10),
)
# copyField catchall (_text_): 'src7' only exists in the catchall
register(
    "ft_copyfield_topk",
    _call(DocumentsEngine.topk, "and2", ["merge", "src7"], k=10, recipe=COPYFIELD),
    fixture_text_topk_sql("simple", _fixture("and2", ["merge", "src7"]), 10, COPYFIELD_TEXT_EXPR),
)
# eDisMax qf="title^2 body^1": the derived title field is its OWN index;
# dismax across field scores at tie 0, then the tie=0.3 tiebreak
for _name, _tie in (("ft_fielded_qf_topk", 0.0), ("ft_fielded_tie_topk", 0.3)):
    register(
        _name,
        lambda spark, sf_dir, tie=_tie: fielded_dismax_topk(
            spark, sf_dir, "or3", ["fast", "merge", "table"], 10, tie=tie,
        ),
        fielded_dismax_topk_sql(
            "simple", _fixture("or3", ["fast", "merge", "table"]), 10,
            TITLE_EXPR_SQL, QF_TITLE_W, QF_BODY_W, tie=_tie,
        ),
    )
# filterCache (SolrIndexSearcher#getDocSet): an arbitrary-query fq as a
# cached DocSet riding the kernels as a non-scoring FILTER
register(
    "ft_fq_cached_topk",
    _call(DocumentsEngine.fq_topk, "or3", OR3, "or2", ["merge", "dup"], 10),
    fq_cached_topk_sql("simple", _fixture("or3", OR3), _fixture("or2", ["merge", "dup"]), 10),
)
# queryResultCache: the page is a cache hit off the ceil-to-window superset
# a first ask cached (getDocListC) — bitwise the plain BM25 answer
QRC_SQL = bm25_topk_sql("simple", _fixture("or2", ["window", "batch"]), 10)
register(
    "ft_qrc_topk",
    _call(DocumentsEngine.qrc_topk, "or2", ["window", "batch"], 10),
    QRC_SQL,
)
# BlendedTermQuery cross-field: per-term df blended to the max across
# fields, per-field scoring with the shared df, dismax across fields
register(
    "ft_blended_cross_topk",
    lambda spark, sf_dir: blended_term_topk(spark, sf_dir, ["fast", "merge", "table"], k=10),
    blended_term_topk_sql("simple", ["fast", "merge", "table"], 10, TITLE_EXPR_SQL),
)
# documentCache: the page's stored fields through the per-engine LRU
register(
    "ft_topk_fetch",
    _call(DocumentsEngine.topk_fetch, "or2", ["window", "batch"], 10),
    "SELECT p.rank, p.doc_id, p.score, d.source, d.lang FROM ("
    + QRC_SQL
    + ") p JOIN documents d ON d.doc_id = p.doc_id ORDER BY p.rank",
)
# commit point + time travel: the update applied, but the searcher opens AT
# the pre-update commit — plain BM25 over the ORIGINAL corpus
register(
    "ft_asof_topk",
    _call(DocumentsEngine.topk, "or3", AFTER_UPDATE_TERMS, k=10, recipe=ASOF),
    bm25_topk_sql("simple", _fixture("or3", AFTER_UPDATE_TERMS), 10),
)
# lucene/classification KNearestNeighborClassifier over a TRAIN-split index
register(
    "classify_knn",
    knn_classify,
    knn_classify_sql("simple", KNN_TEST_MOD, KNN_TOP_TERMS, KNN_K),
)
# atomic partial update (`add` on text ≡ appending " " + operand to the live
# doc), then the same tombstone+re-add oracle shape
register(
    "ft_after_atomic_update_topk",
    _call(DocumentsEngine.topk, "or3", AFTER_UPDATE_TERMS, k=10, recipe=ATOMIC_UPDATED),
    after_update_topk_sql(
        "simple", [t for s in AFTER_UPDATE_TERMS for t, _ in _SIMPLE.analyze(s)],
        10, ATOMIC_MOD, " " + ATOMIC_OPERAND,
    ),
)
# delete-by-query: tombstone a query's whole match set, then search with the
# SHRUNKEN global stats (docCount/avgdl/df)
register(
    "ft_after_dbq_topk",
    _call(DocumentsEngine.topk, "or3", AFTER_UPDATE_TERMS, k=10, recipe=DBQ_DELETED),
    after_dbq_topk_sql(
        "simple", DBQ_TERM, [t for s in AFTER_UPDATE_TERMS for t, _ in _SIMPLE.analyze(s)], 10,
    ),
)
# ValueSource function query as the ranking function (termfreq sort)
register(
    "ft_function_query",
    _call(DocumentsEngine.function_query_topk, "merge", k=10),
    f"""WITH {base_ctes("simple")},
tfq AS (
    SELECT doc_id, count(*)::BIGINT AS tf FROM kept WHERE term = '{_tok(_SIMPLE, "merge")}' GROUP BY 1
)
SELECT rank::INTEGER AS rank, doc_id::BIGINT AS doc_id, tf FROM (
    SELECT row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS rank, doc_id, tf FROM tfq
) WHERE rank <= 10 ORDER BY rank""",
)
# function-query expressions (ValueSourceParser grammar), (name, expression,
# the surfaces its termfreq/docfreq/idf/ttf arguments name)
for _name, _expr, _surfaces in (
    # arithmetic, if(), termfreq ×2, norm(), a bare field ref, docfreq + idf
    # index scalars, and scale() as the outermost full-pass rescale
    ("ft_funcexpr_topk",
     "scale(sum(product(2, termfreq(text,'merge')),"
     " div(norm(text), sum(n_chars, 1)),"
     " if(termfreq(text,'batch'), 0.25, 0),"
     " div(ln(sum(docfreq(text,'merge'), 1)), 10),"
     " product(idf(text,'batch'), 0.125)), 0, 20)",
     ("merge", "batch")),
    # ReciprocalFloatFunction recip(x,m,a,b) + LinearFloatFunction linear(x,m,c)
    ("ft_recip_boost_topk",
     "sum(linear(termfreq(text,'merge'), 2, 0.25), recip(n_chars, 0.01, 100, 1))",
     ("merge",)),
    # ttf() / sumtotaltermfreq() / docfreq() / maxdoc() index statistics
    ("ft_funcexpr_stats_topk",
     "sum(product(termfreq(text,'merge'),"
     " div(ttf(text,'batch'), sumtotaltermfreq(text))),"
     " div(docfreq(text,'scan'), maxdoc()))",
     ("merge", "batch", "scan")),
    # strdist() (StrDistValueSource, 'edit'): normalized Levenshtein
    # similarity of source to 'src1' + a termfreq tiebreaker
    ("ft_strdist_topk",
     "sum(product(2, strdist('src1', source)), div(termfreq(text,'merge'), 100))",
     ("merge",)),
):
    register(
        _name,
        _call(DocumentsEngine.function_expr_topk, _expr, k=10),
        funcexpr_topk_sql("simple", _expr, 10, {w: _tok(_SIMPLE, w) for w in _surfaces}),
    )
# Text Tagger (/tag handler): an out-of-dictionary token drops from the tag
# stream; a repeated dictionary token is tagged at BOTH positions
TAGGER_TEXT = "merge the batch stream zzznotaword merge scan"
register(
    "ft_tagger",
    _call(DocumentsEngine.tagger, TAGGER_TEXT),
    tagger_sql("simple", [(p, t) for t, p in _SIMPLE.analyze(TAGGER_TEXT)]),
)
# L/search/MultiPhraseQuery: "merge (batch|stream)" — slot 2 admits either
register(
    "ft_multiphrase_topk",
    _ranked(lambda s: BooleanSpec(must=[MultiPhraseClause(
        ((_tok(s.analyzer, "merge"),), (_tok(s.analyzer, "batch"), _tok(s.analyzer, "stream"))),
        (0, 1),
    )]), mode="exact"),
    bm25_topk_sql("simple", BooleanSpec(must=[MultiPhraseClause(
        ((_tok(_SIMPLE, "merge"),), (_tok(_SIMPLE, "batch"), _tok(_SIMPLE, "stream"))),
        (0, 1),
    )]), 10),
)
# phrase-prefix (PhraseWildcardQuery / match_phrase_prefix): "merge bat*"
register(
    "ft_phrase_prefix_topk",
    _call(DocumentsEngine.phrase_prefix_topk, ["merge"], "bat", k=10),
    phrase_prefix_topk_sql("simple", (_tok(_SIMPLE, "merge"),), "bat", 10),
)
# ComplexPhraseQueryParser: wildcards at ANY slot — "d?ta s*"
register(
    "ft_complexphrase_topk",
    _call(DocumentsEngine.complex_phrase_topk, '"d?ta s*"', k=10),
    complex_phrase_topk_sql("simple", complex_phrase_parts('"d?ta s*"', _SIMPLE), 10),
)
# L/search/BooleanQuery nesting: +merge +(batch stream)
register(
    "ft_nested_bool_topk",
    _ranked(lambda s: BooleanSpec(must=[
        TermClause(_tok(s.analyzer, "merge")),
        OrGroupClause((_tok(s.analyzer, "batch"), _tok(s.analyzer, "stream"))),
    ])),
    bm25_topk_sql("simple", BooleanSpec(must=[
        TermClause(_tok(_SIMPLE, "merge")),
        OrGroupClause((_tok(_SIMPLE, "batch"), _tok(_SIMPLE, "stream"))),
    ]), 10),
)
# ReRankQParserPlugin: first-pass top-50 rescored as first + 2.0·rerank
register(
    "ft_rerank_topk",
    _call(DocumentsEngine.rerank_topk, "or3", OR3, "and2", MERGE_BATCH,
          rerank_docs=50, weight=2.0, k=10),
    rerank_topk_sql("simple", _fixture("or3", OR3), _fixture("and2", MERGE_BATCH), 50, 2.0, 10),
)
# query elevation: ids pinned in config order; 999999999 is absent from
# every SF (the unknown-id drop path)
register(
    "ft_elevate_topk",
    _call(DocumentsEngine.elevate_topk, "or3", OR3, [7, 3, 999999999], k=10),
    elevate_topk_sql("simple", _fixture("or3", OR3), [7, 3, 999999999], 10),
)
# spellcheck collation: two misspellings + one correct term (its own
# distance-0 best); the collation's hit count is verified
register(
    "ft_spellcheck_collate",
    _call(DocumentsEngine.spellcheck_collate, ["vektor", "stream", "fliter"], max_edits=2),
    spellcheck_collate_sql("simple", [_tok(_SIMPLE, w) for w in ["vektor", "stream", "fliter"]], 2),
)
# term vectors: one doc's full term vector read from the index postings
register("ft_termvectors", _call(DocumentsEngine.term_vectors, 42), term_vectors_sql("simple", 42))
# TermsComponent: terms.regex suffix alternation (→ row, slow, window,
# stream), then prefix enumeration; (pattern, mincount, limit)
register(
    "ft_terms_regex",
    _call(DocumentsEngine.terms_enum_regex, "(ow|am)$", 3, 15),
    terms_enum_regex_sql("simple", "(ow|am)$", 3, 15),
)
register(
    "ft_terms_enum",
    _call(DocumentsEngine.terms_enum, "s", 5, 15),
    terms_enum_sql("simple", "s", 5, 15),
)
# sort=n_chars desc: match set from the query, order from a stored field
register(
    "ft_sortfield_topk",
    _call(DocumentsEngine.sorted_topk, "or3", OR3, "n_chars", False, k=10),
    sorted_topk_sql("simple", _fixture("or3", OR3), "n_chars", False, 10),
)
# multiplicative boost function (edismax boost= / FunctionScoreQuery)
register(
    "ft_boostfunc_topk",
    _call(DocumentsEngine.boostfunc_topk, "and2", MERGE_BATCH, k=10),
    boostfunc_topk_sql("simple", _fixture("and2", MERGE_BATCH), 10),
)

# --- spans and intervals (L/search/spans, lucene/queries/intervals) --------
# L/search/spans/SpanFirstQuery: 'merge' ending within the first 12
# positions, window-restricted tf
register(
    "ft_spanfirst_topk",
    _ranked(lambda s: BooleanSpec(must=[SpanFirstClause(_tok(s.analyzer, "merge"), 12)])),
    span_first_topk_sql("simple", _tok(_SIMPLE, "merge"), 12, 10),
)
# L/search/spans/SpanPositionRangeQuery: the general [6, 30) window
register(
    "ft_spanposrange_topk",
    _ranked(lambda s: BooleanSpec(
        should=[SpanFirstClause(_tok(s.analyzer, "merge"), 30, start=6)], min_should_match=1,
    )),
    span_first_topk_sql("simple", _tok(_SIMPLE, "merge"), 30, 10, start=6),
)
# SpanNearQuery (inOrder): NearSpansOrdered slop-factor freq scoring
register(
    "ft_spannear_topk",
    _call(DocumentsEngine.span_near_topk, "scan", "filter", 3, k=10),
    span_near_topk_sql("simple", _tok(_SIMPLE, "scan"), _tok(_SIMPLE, "filter"), 3, 10),
)
# L/search/spans/SpanNotQuery: 'merge' survives unless 'batch' lies within
# [p-2, p+2]
register(
    "ft_spannot_topk",
    _ranked(lambda s: BooleanSpec(must=[SpanNotClause(
        _tok(s.analyzer, "merge"), _tok(s.analyzer, "batch"), 2, 2,
    )])),
    span_not_topk_sql("simple", _tok(_SIMPLE, "merge"), _tok(_SIMPLE, "batch"), 2, 2, 10),
)
# L/search/spans/SpanOrQuery: one clause over the union of member
# occurrences; tf = total member occurrences
register(
    "ft_spanor_topk",
    _ranked(lambda s: BooleanSpec(must=[SpanOrClause(
        tuple(_tok(s.analyzer, w) for w in ("scan", "filter", "vector")),
    )])),
    span_or_topk_sql("simple", tuple(_tok(_SIMPLE, w) for w in ("scan", "filter", "vector")), 10),
)
# L/search/spans/SpanContainingQuery / SpanWithinQuery: big = ordered
# SpanNear(scan, filter, slop 8), little = 'merge' inside a matched big span
for _name, _mode in (("ft_spancontain_topk", "containing"), ("ft_spanwithin_topk", "within")):
    register(
        _name,
        _ranked(lambda s, mode=_mode: BooleanSpec(must=[SpanContainClause(
            (_tok(s.analyzer, "scan"), _tok(s.analyzer, "filter")),
            _tok(s.analyzer, "merge"), 8, mode,
        )])),
        span_contain_topk_sql(
            "simple", _tok(_SIMPLE, "scan"), _tok(_SIMPLE, "filter"), 8,
            _tok(_SIMPLE, "merge"), _mode, 10,
        ),
    )
# lucene/queries/intervals Intervals.unordered / Intervals.ordered under
# maxgaps 6: minimal intervals, 1/(1+gaps) per match
for _name, _first, _second, _ordered_iv in (
    ("ft_interval_unordered_topk", "filter", "scan", False),
    ("ft_interval_ordered_topk", "scan", "filter", True),
):
    register(
        _name,
        _ranked(lambda s, a=_first, b=_second, ordered=_ordered_iv: BooleanSpec(must=[
            IntervalUnorderedClause((_tok(s.analyzer, a), _tok(s.analyzer, b)), 6, ordered),
        ])),
        interval_unordered_topk_sql(
            "simple", _tok(_SIMPLE, _first), _tok(_SIMPLE, _second), 6, 10, ordered=_ordered_iv,
        ),
    )
# nested spans: L/search/spans/SpanNearQuery over two SpanOrQuery unions
register(
    "ft_spannearor_topk",
    _ranked(lambda s: BooleanSpec(must=[SpanNearOrClause(
        tuple(tuple(_tok(s.analyzer, w) for w in g) for g in (("merge", "scan"), ("batch", "filter"))),
        4,
    )])),
    span_near_or_topk_sql(
        "simple", (_tok(_SIMPLE, "merge"), _tok(_SIMPLE, "scan")),
        (_tok(_SIMPLE, "batch"), _tok(_SIMPLE, "filter")), 4, 10,
    ),
)

# --- query parsers and rewrites -------------------------------------------
# L/search/FuzzyQuery default rewrite (TopTermsBlendedFreqScoringRewrite):
# target 'batc', maxEdits 2, maxExpansions 50; the oracle expands in SQL
register(
    "ft_fuzzy_blended_topk",
    _ranked(lambda s: _fuzzy_blended(s, "batc", 2, 50)),
    fuzzy_blended_topk_sql("simple", "batc", 2, 50, 10),
)
# S/search/ExtendedDismaxQParser mm: 4 optional terms under "2<-25% 9<-3"
# → msm = 4 + int(-1.0) = 3 (SolrPluginUtils#calculateMinShouldMatch). The
# oracle binds the HAND-DERIVED integer, so the mm arithmetic is certified
EDISMAX_MM = ("merge batch scan filter", "2<-25% 9<-3")
EDISMAX_MM_EXPECTED = 3
register(
    "ft_edismax_mm_topk",
    _ranked(lambda s: _edismax_mm(s.analyzer, *EDISMAX_MM)),
    bm25_topk_sql("simple", BooleanSpec(
        should=[TermClause(_tok(_SIMPLE, w)) for w in EDISMAX_MM[0].split()],
        min_should_match=EDISMAX_MM_EXPECTED,
    ), 10),
)
# ExtendedDismaxQParser#addShingledPhraseQueries (pf): the terms score
# individually and the whole query is re-added as one exact phrase SHOULD
# clause boosted 2.0 (the phrase never gates matching)
register(
    "ft_edismax_pf_topk",
    _ranked(lambda s: BooleanSpec(should=[
        *[TermClause(t) for t, _ in s.analyzer.analyze("table hash")],
        PhraseClause(*_phrase(s.analyzer, "table hash"), boost=2.0),
    ])),
    bm25_topk_sql("simple", BooleanSpec(should=[
        *[TermClause(t) for t, _ in _SIMPLE.analyze("table hash")],
        PhraseClause(*_phrase(_SIMPLE, "table hash"), boost=2.0),
    ]), 10),
)
# L/queryparser/classic/QueryParser: required term, boosted should,
# prohibited term, exact phrase, nested disjunction group. The oracle spec is
# HAND-BUILT from the documented parse, so the gate certifies parsing
register(
    "ft_queryparser_topk",
    _ranked(lambda s: parse_query_string(
        '+merge batch^2 -scan "table hash" (vector OR stream)', s.analyzer,
        expand=s.expand_terms, keyword_fields=("source", "lang"),
    )),
    bm25_topk_sql("simple", BooleanSpec(
        must=[TermClause(_tok(_SIMPLE, "merge"))],
        should=[
            TermClause(_tok(_SIMPLE, "batch"), 2.0),
            PhraseClause((_tok(_SIMPLE, "table"), _tok(_SIMPLE, "hash")), (0, 1)),
            OrGroupClause((_tok(_SIMPLE, "vector"), _tok(_SIMPLE, "stream"))),
        ],
        must_not=[TermClause(_tok(_SIMPLE, "scan"))],
    ), 10),
)
# phonetic (Soundex, lucene/analysis/phonetic): misspellings whose codes hit
# indexed stems (stram→stream S365, merj→merg M620)
register(
    "ft_phonetic_topk",
    _ranked(lambda s: s.multiterm_spec("phonetic", ("stram", "merj"))),
    phonetic_topk_sql("simple", ("stram", "merj"), 10),
)
# L/search/ConstantScoreQuery: every match scores 1.5, doc-id order
register(
    "ft_constscore_topk",
    _call(DocumentsEngine.constant_score_topk, "and2", MERGE_BATCH, 1.5, k=10),
    constant_score_sql("simple", _fixture("and2", MERGE_BATCH), 1.5, 10),
)
# {!frange l=2 u=5}: half-integer values make the f32 range compare exact
FRANGE_EXPR = "sum(termfreq(text,'merge'), product(0.5, termfreq(text,'batch')))"
register(
    "ft_frange",
    _call(DocumentsEngine.frange_docs, FRANGE_EXPR, 2.0, 5.0, k=20),
    frange_sql("simple", FRANGE_EXPR, 2.0, 5.0, 20, {w: _tok(_SIMPLE, w) for w in ("merge", "batch")}),
)
# Solr ltr: LinearModel rescore of the or3 top-50 over (orig BM25, termfreq
# of 'merge', n_chars) with weights LTR_WEIGHTS, the [features] logging
# transformer, and a MultipleAdditiveTrees ensemble (thresholds are
# representable halves so the <= compare is exact on both engines)
LTR_WEIGHTS = (1.0, 0.75, 0.5)
LTR_TREES = (
    (1.0, {"feature": "orig", "threshold": 0.5,
           "left": {"feature": "tf", "threshold": 1.5,
                    "left": {"value": 0.1}, "right": {"value": 0.4}},
           "right": {"value": 0.8}}),
    (0.5, {"feature": "n_chars", "threshold": 400.0,
           "left": {"value": 0.05}, "right": {"value": 0.3}}),
)
register(
    "ft_ltr_topk",
    _call(DocumentsEngine.ltr_rescore_topk, "or3", OR3, "merge", LTR_WEIGHTS, rerank_docs=50, k=10),
    ltr_rescore_sql("simple", _fixture("or3", OR3), _tok(_SIMPLE, "merge"), LTR_WEIGHTS, 50, 10),
)
register(
    "ft_ltr_features",
    _call(DocumentsEngine.ltr_feature_log, "or3", OR3, "merge", k=10),
    ltr_feature_log_sql("simple", _fixture("or3", OR3), _tok(_SIMPLE, "merge"), 10),
)
# group.query: each named query is a bucket with its own top-3
GROUP_QUERY_BUCKETS = {
    "merge_batch": ("and2", ["merge", "batch"]),
    "vector_stream": ("and2", ["vector", "stream"]),
}
register(
    "ft_group_query",
    _call(DocumentsEngine.group_query_topk, GROUP_QUERY_BUCKETS, k=3),
    group_query_topk_sql(
        "simple", {b: _fixture(qt, ts) for b, (qt, ts) in GROUP_QUERY_BUCKETS.items()}, 3,
    ),
)
# ClusteringComponent analog: the top-50 page grouped by each doc's
# dominant tf·idf term
register(
    "ft_result_clusters",
    _call(DocumentsEngine.result_clusters, "or3", OR3, n_docs=50),
    result_clusters_sql("simple", _fixture("or3", OR3), 50),
)
register(
    "ft_ltr_trees_topk",
    _call(DocumentsEngine.ltr_trees_topk, "or3", OR3, "merge", LTR_TREES, rerank_docs=50, k=10),
    ltr_trees_sql("simple", _fixture("or3", OR3), _tok(_SIMPLE, "merge"), LTR_TREES, 50, 10),
)
# CommonTermsQuery: 'dup' is index-rare (required); merge/vector exceed the
# 0.2 df ratio and demote to the optional group
register(
    "ft_commonterms_topk",
    _call(DocumentsEngine.common_terms_topk, ["dup", "merge", "vector"], 0.2, k=10),
    common_terms_topk_sql("simple", [_tok(_SIMPLE, w) for w in ["dup", "merge", "vector"]], 0.2, 10),
)
# query-time join ({!join from=source to=source}, JoinUtil): the inner
# and2(dup, merge) spans half the sources, so the filter restricts the outer
# or3 ranking; the scoring variant ranks join-key groups by max inner BM25
register(
    "ft_join_topk",
    _call(DocumentsEngine.join_filter_topk, "or3", OR3, "and2", ["dup", "merge"], k=10),
    join_filter_topk_sql(
        "simple", _fixture("or3", OR3), [_tok(_SIMPLE, w) for w in ["dup", "merge"]],
        "source", "source", 10, inner_occur="and",
    ),
)
register(
    "ft_join_score_topk",
    _call(DocumentsEngine.join_score_topk, "and2", ["dup", "merge"], k=10),
    join_score_topk_sql("simple", _fixture("and2", ["dup", "merge"]), "source", "source", 10),
)
# q= + facet.field= / stats.field= / group.facet / JSON facet
# blockChildren domain over the and2 query's DocSet
register(
    "ft_facet_on_query",
    _call(DocumentsEngine.facet_on_query, "and2", MERGE_BATCH, "source", limit=10),
    facet_on_query_sql("simple", _fixture("and2", MERGE_BATCH), "source", 10),
)
register(
    "ft_stats_on_query",
    _call(DocumentsEngine.stats_on_query, "and2", MERGE_BATCH, "n_chars"),
    stats_on_query_sql("simple", _fixture("and2", MERGE_BATCH), "n_chars"),
)
register(
    "ft_group_facet",
    _call(DocumentsEngine.group_facet, "and2", MERGE_BATCH, "source", "lang", limit=10),
    group_facet_sql("simple", _fixture("and2", MERGE_BATCH), "source", "lang", 10),
)
register(
    "ft_facet_block_children",
    _call(DocumentsEngine.facet_block_children, "and2", MERGE_BATCH, "lang"),
    facet_block_children_sql("simple", _fixture("and2", MERGE_BATCH), "lang"),
)
# RealTime Get: an original doc, a soft-committed appended doc, and an
# absent key (the not-found path)
RTG_KEYS = [42, 5_000_001, 987_654_321]
register(
    "ft_rtg",
    _call(DocumentsEngine.rtg, RTG_KEYS, recipe=RTG_APPENDED),
    rtg_sql("simple", RTG_DOCS, RTG_KEYS),
)

# --- pluggable similarities over the same index and norm bytes -------------
register("ft_tfidf_topk", _sim(CLASSIC), tfidf_topk_sql("simple", OR3_TERMS, 10))
# BooleanSimilarity: clause score = boost, ranks by matched-term count
register("ft_boolean_sim_topk", _sim(BOOLEAN), f"""WITH {base_ctes("simple")},
hits AS (
    SELECT doc_id, CAST(count(DISTINCT term) AS FLOAT) AS score
    FROM kept WHERE term IN ({", ".join(f"'{t}'" for t in OR3_TERMS)}) GROUP BY doc_id
)
SELECT rank::INTEGER AS rank, doc_id::BIGINT AS doc_id, score::FLOAT AS score FROM (
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score FROM hits
) WHERE rank <= 10 ORDER BY rank""")
register("ft_lm_topk", _sim(LM), lm_topk_sql("simple", OR3_TERMS, 10))
register("ft_dfr_topk", _sim(DFR), dfr_topk_sql("simple", OR3_TERMS, 10))
register("ft_ib_topk", _sim(IB), ib_topk_sql("simple", OR3_TERMS, 10))
register("ft_lmjm_topk", _sim(LMJM), lmjm_topk_sql("simple", OR3_TERMS, 10))
register("ft_dfi_topk", _sim(DFI), dfi_topk_sql("simple", OR3_TERMS, 10))

# --- distributed search and index-maintenance invariants -------------------
# SolrCloud LocalStatsCache: 4 hash-routed shards, each scoring with ITS OWN
# df/docCount/avgdl, merged by (score desc, doc_id asc)
register(
    "ft_localstats_topk",
    lambda spark, sf_dir: localstats_topk(spark, sf_dir, "or3", OR3, k=10),
    localstats_topk_sql("simple", _fixture("or3", OR3_TERMS), 10),
)
# ExactStatsCache / addIndexes / a TieredMergePolicy round all equal the
# single collection bitwise: they share the plain or3 oracle
OR3_SQL = bm25_topk_sql("simple", _fixture("or3", OR3_TERMS), 10)
register(
    "ft_exactstats_topk",
    lambda spark, sf_dir: exactstats_topk(spark, sf_dir, "or3", OR3, k=10),
    OR3_SQL,
)
# SPLITSHARD (SolrIndexSplitter): 3 hash-routed children (hard-linked
# segments + child tombstone masks), exact-stats scatter-gather ≡ the single
# collection
register(
    "ft_split_union_topk",
    lambda spark, sf_dir: split_union_topk(spark, sf_dir, "or3", ["merge", "scan", "window"], k=10),
    bm25_topk_sql("simple", _fixture("or3", ["merge", "scan", "window"]), 10),
)
# updateNumericDocValue: two stacked generations read latest-wins as a
# multiplicative boost — re-ranks without reindex
register(
    "ft_dv_boost_topk",
    _call(DocumentsEngine.dv_boost_topk, "or3", OR3, k=10, recipe=DV_UPDATED),
    dv_boost_topk_sql("simple", _fixture("or3", OR3_TERMS), 10),
)
# IndexOptions.DOCS: freq() == 1 at read time, norms still apply
register("ft_docsonly_topk", _sim(DOCSONLY), docsonly_topk_sql("simple", OR3_TERMS, 10))
# DisMax mm spec "2<-25%" over a 4-term OR: the engine parses it; the oracle
# binds the HAND-COMPUTED msm=3 (4 + int(f32(-25%·4)))
register(
    "ft_mm_spec_topk",
    _call(DocumentsEngine.topk, "or_minshould", ["query", "scan", "sort", "window"], k=10,
          min_should=calculate_min_should_match(4, "2<-25%")),
    bm25_topk_sql("simple", _fixture("or_minshould", ["query", "scan", "sort", "window"], 3), 10),
)
register(
    "ft_tiered_merge_topk",
    lambda spark, sf_dir: tiered_merge_topk(spark, sf_dir, "or3", OR3, k=10),
    OR3_SQL,
)
register(
    "ft_addindexes_topk",
    lambda spark, sf_dir: addindexes_topk(spark, sf_dir, "or3", OR3, k=10),
    OR3_SQL,
)
# FieldMaskingSpanQuery: title 'table' (the first 8 words) masked into body
# position space, ordered-near a body 'join' within 6
register(
    "ft_fieldmask_span_topk",
    lambda spark, sf_dir: field_masking_span_topk(spark, sf_dir, "table", "join", 6, k=10),
    field_masking_span_topk_sql("simple", TITLE_EXPR_SQL, "table", "join", 6, 10),
)
# DiversifiedTopDocsCollector: at most ONE result per source (the plain or3
# page carries two src14 docs, so the cap binds)
register(
    "ft_diversified_topk",
    _call(DocumentsEngine.diversified_topk, "or3", OR3, k=10, max_per_key=1),
    diversified_topk_sql("simple", _fixture("or3", OR3_TERMS), 10, 1),
)
# AxiomaticF2EXP (L/search/similarities/AxiomaticF2EXP) and
# SweetSpotSimilarity (plateau length norm + baseline tf)
register("ft_f2exp_topk", _sim(F2EXP), f2exp_topk_sql("simple", OR3_TERMS, 10))
register("ft_sweetspot_topk", _sim(SWEETSPOT), sweetspot_topk_sql("simple", OR3_TERMS, 10))
# omitNorms=true: every doc scores through the norm-cache entry for length 1
register(
    "ft_omitnorms_topk",
    _call(DocumentsEngine.omitnorms_topk, "or3", OR3, k=10),
    omitnorms_topk_sql("simple", OR3_TERMS, 10),
)
# BM25Similarity(k1=0.9, b=0.4), the classic web-search tuning
register(
    "ft_bm25_tuned_topk",
    _sim(bm25_tuned(k1=0.9, b=0.4)),
    bm25_topk_sql("simple", _fixture("or3", OR3_TERMS), 10, k1=0.9, b=0.4),
)

# --- highlighting, suggesters, spellcheck, admin handlers -----------------
# UnifiedHighlighter analog: best-window snippet, then hl.snippets=2
register(
    "ft_highlight_topk",
    _call(DocumentsEngine.highlight_topk, "and2", MERGE_BATCH, k=10),
    highlight_topk_sql("simple", _fixture("and2", MERGE_BATCH), 10),
)
register(
    "ft_highlight_passages",
    _call(DocumentsEngine.highlight_passages, "and2", MERGE_BATCH, k=10),
    highlight_passages_sql("simple", _fixture("and2", MERGE_BATCH), 10),
)
# Lookup / SpellCheckComponent: dictionary candidates ranked by docFreq —
# prefix, fuzzy (DirectSpellChecker) and infix (AnalyzingInfixSuggester)
register(
    "ft_suggest",
    _call(DocumentsEngine.suggest, "prefix", "s", k=10),
    suggest_sql("simple", "term LIKE 's%'", 10),
)
register(
    "ft_spellcheck",
    _call(DocumentsEngine.suggest, "fuzzy", ("batc", 1), k=10),
    suggest_sql("simple", "levenshtein(term, 'batc') <= 1", 10),
)
register(
    "ft_suggest_infix",
    _call(DocumentsEngine.suggest, "infix", "or", k=10),
    suggest_sql("simple", "term LIKE '%or%'", 10),
)
# FuzzySuggester: 'sma' completes to 'small' AND fuzzy-matches 'scan' and
# 'spark', so the df ranking is exercised
register(
    "ft_fuzzy_suggest",
    _call(DocumentsEngine.suggest_fuzzy_prefix, "sma", k=10),
    suggest_fuzzy_prefix_sql("simple", "sma", 10),
)
# DocumentDictionary suggester: stored-field entries weighted by n_chars
register(
    "ft_suggest_docdict",
    _call(DocumentsEngine.suggest_docdict, "src1", k=10),
    """
SELECT rank::INTEGER AS rank, key, weight::BIGINT AS weight, doc_id::BIGINT AS doc_id FROM (
    SELECT row_number() OVER (ORDER BY n_chars DESC, source ASC, doc_id ASC) AS rank,
           source AS key, n_chars AS weight, doc_id
    FROM documents WHERE source LIKE 'src1%'
) WHERE rank <= 10 ORDER BY rank""",
)
# BlendedInfixSuggester POSITION_LINEAR: later matches decay 10%/position
register(
    "ft_suggest_blended",
    _call(DocumentsEngine.suggest_blended_infix, "or", k=10),
    suggest_blended_infix_sql("simple", "or", 10),
)
# FreeTextSuggester (2-gram LM, stupid backoff): 'data' follows 'merge'
# (bigram path) while 'dup' never does (ALPHA-discounted unigram backoff)
register(
    "ft_suggest_freetext",
    _call(DocumentsEngine.suggest_freetext, "merge", "d", k=8),
    suggest_freetext_sql("simple", "merge", "d", 8),
)
# WordBreakSpellChecker: break a run-together input, combine an adjacent pair
register(
    "ft_wordbreak",
    _call(DocumentsEngine.word_break, "mergebatch", ("bat", "ch")),
    word_break_sql("simple", "mergebatch", ("bat", "ch")),
)
# SynonymGraphFilter rule "table hash" => dup lowered by
# QueryBuilder#analyzeGraphBoolean to OR(phrase("table hash"), term(dup))
register(
    "ft_syngraph_topk",
    _ranked(lambda s: BooleanSpec(should=[
        PhraseClause((_tok(s.analyzer, "table"), _tok(s.analyzer, "hash")), (0, 1)),
        TermClause(_tok(s.analyzer, "dup")),
    ], min_should_match=1)),
    bm25_topk_sql("simple", BooleanSpec(should=[
        PhraseClause(("table", "hash"), (0, 1)), TermClause("dup"),
    ], min_should_match=1), 10),
)
# /analysis/field: per-stage token stream of the stop chain
register(
    "ft_analysis_debug",
    _call(DocumentsEngine.analysis_debug, "The Table HASH the Window", analyzer="stop"),
    analysis_debug_sql("The Table HASH the Window"),
)
# cursorMark: page 2 on a field sort via keyset continuation
register(
    "ft_cursor_page2",
    _call(DocumentsEngine.cursor_page2, "or3", OR3, "n_chars", k=10),
    cursor_page2_sql("simple", _fixture("or3", OR3), "n_chars", 10),
)
# MLT over a posted free-text body (stream.body): known and novel tokens
MLT_TEXT = "the merge merge batch stream pipeline zzzunknown"
register(
    "ft_mlt_text_topk",
    _call(DocumentsEngine.mlt_text_topk, MLT_TEXT, top_terms=4, k=10),
    mlt_text_topk_sql("simple", MLT_TEXT, 4, 10),
)
# lucene/monitor stored-query registry: one conjunction, one msm
# disjunction, one phrase, one NOT; query_id → (qtype, terms, msm)
MONITOR_QUERIES = {
    "alert_and": ("and2", ("merge", "batch"), 0),
    "alert_msm": ("or_minshould", ("vector", "stream", "filter"), 2),
    "alert_phrase": ("phrase2", ("table", "hash"), 0),
    "alert_not": ("and_not", ("scan", "join"), 0),
}
register(
    "ft_monitor",
    _call(DocumentsEngine.monitor_matches, MONITOR_QUERIES),
    monitor_matches_sql("simple", {
        qid: _fixture(qt, list(terms), msm) for qid, (qt, terms, msm) in MONITOR_QUERIES.items()
    }),
)
register("ft_docs_norms", _call(DocumentsEngine.docs_norms), docs_norms_sql("simple"))
register("ft_stop_docs_norms", _call(DocumentsEngine.docs_norms, analyzer="stop"), docs_norms_sql("stop"))
register("ft_term_stats", _call(DocumentsEngine.term_stats_df), term_stats_sql("simple"))
# Luke /admin/luke per-field dictionary summary (text + keyword fields)
register("ft_field_summary", _call(DocumentsEngine.field_summary), field_summary_sql("simple"))
register(
    "ft_collection_stats",
    _call(DocumentsEngine.collection_stats_df, analyzer="stop"),
    collection_stats_sql("stop"),
)


# The driver scores the FIRST 50 entries in queries() dict order — this list
# allocates that window so every distinct operator family gets a driver-
# certified row: fulltext (incl. the new total-hits and delete+re-add
# entries), facets/grouping, streams, update chain, dedup ×4, ANN ×4,
# graph ×2, text metrics, multimodal. Near-duplicate ft_* variants (and2 vs
# and3, prefix vs wildcard, ...) and r1-green stream variants sit after the
# window; they remain registered and locally gated by tools/check_entry.py.
PRIORITY_ORDER = [
    # fulltext: one slot per operator, not per fixture
    # ft_and2_topk rotated out for ft_rerank_topk in r3 (pure conjunction
    # stays certified by ft_andnot's MUST clauses and by the rerank entry's
    # own and2 rerank query; rerank certifies the NEW QueryRescorer surface)
    "ft_term_topk", "ft_rerank_topk", "ft_or_minshould_topk", "ft_andnot_topk",
    # ft_phrase_topk rotated out for ft_queryparser_topk late in r3: the
    # exact-phrase kernel stays scored inside the queryparser entry's
    # "table hash" phrase clause (and pass-local); queryparser certifies
    # the NEW classic query-string parse surface against a HAND-BUILT
    # oracle spec (parse bugs cannot cancel out)
    "ft_queryparser_topk", "ft_stop_phrase_hole_topk", "ft_sloppy_phrase_topk",
    # ft_set_topk rotated out for ft_dfr_topk in r3 (TermInSet stays
    # pass-local-gated; DFR certifies the SimilarityBase dispatch family)
    # ft_wildcard_topk rotated out for ft_interval_unordered_topk (the
    # multiterm dictionary-expansion family stays scored via the queryparser
    # entry's multi-term rewrite and pass-local gates; intervals certify the
    # NEW minimal-interval positional class — the lucene/queries/intervals
    # module)
    # ft_dismax_topk rotated out for ft_fielded_qf_topk (r4-cont): the
    # per-term DisjunctionMax combine stays pass-local-gated and its
    # greatest-of-f32 shape is scored inside the fielded row's cross-field
    # max; fielded qf certifies the NEW multi-field schema surface — a
    # derived title field as its OWN index with independent postings/norms/
    # collection stats (per-field df/avgdl), f32 qf weights, dismax across
    # fields — which no other scored row touches
    "ft_interval_unordered_topk", "ft_dfr_topk", "ft_fielded_qf_topk",
    # ft_boost_topk rotated out for ft_spellcheck_collate in r3 (boost stays
    # certified inside the scored ft_rerank_topk weight path and the dismax
    # tie term; spellcheck certifies the NEW DirectSpellChecker/collation
    # surface). ft_page2_topk rotated out for ft_termvectors (searchAfter
    # rides the identical top-k kernel as ft_term_topk and stays
    # pass-local-gated; termvectors certifies the NEW postings-read surface).
    # ft_termvectors rotated out for ft_synonymquery_topk in r4 (the
    # term-vector postings-read surface was driver-certified green in r3
    # and stays pass-local-gated; SynonymQuery certifies the NEW
    # merged-statistics scoring class — tf summed across members under one
    # max-df weight, the QueryBuilder position-graph rule)
    # ft_filter_topk rotated out for ft_asof_topk (r4-cont): the keyword
    # FILTER posting intersection stays scored inside ft_join_topk's
    # TermsInSet-under-FILTER gather step and pass-local; as-of certifies
    # the NEW commit-point surface — SegmentInfos-generation capture,
    # seg-list partition pruning, retained-stats binding, and recorded
    # tombstone-file reads (DirectoryReader.open(IndexCommit)) — which no
    # other scored row touches
    "ft_spellcheck_collate", "ft_asof_topk", "ft_mlt_topk",
    # ft_synonymquery_topk rotated out for ft_dv_boost_topk (r4): the
    # merged-statistics single-weight scoring shape stays pass-local-gated
    # and is structurally shared with the blended-term entry (max-df
    # weight over a member union); dv_boost certifies the NEW docvalues-
    # generation surface — updateNumericDocValue sidecar writes, stacked
    # latest-wins generation reads, and the function re-rank they feed —
    # an index-mutation path (no tombstones, no re-add) that no other
    # scored row touches
    "ft_dv_boost_topk",
    # ft_andnot_topk's slot family (boolean occurs) keeps MUST_NOT scored;
    # ft_docs_norms rotated out for ft_spanfirst_topk late in r3 (norms are
    # certified transitively by every bitwise BM25 row + the pass-local
    # gate); ft_spanfirst_topk then rotated out for ft_spannot_topk (the
    # span family's scored row is now the two-posting-list positional
    # exclusion matcher, strictly richer than the window-restricted tf;
    # span-first stays pass-local-gated)
    # ft_spannot_topk rotated out for ft_spancontain_topk (span-not stays
    # pass-local-gated; containing certifies the richest span composition:
    # NearSpansOrdered matching + ContainSpans enclosure + slop-factor freq)
    # ft_blockjoin_source rotated out for ft_blockjoin_scores (r3-cont):
    # the scores entry is strictly richer — same child query and parent
    # roll-up, plus ScoreMode Total/Avg's deterministic ordered fold;
    # ScoreMode.Max and the child count appear in both
    "ft_blockjoin_scores", "ft_spancontain_topk", "ft_total_hits",
    # ft_tfidf_topk rotated out for ft_funcexpr_topk in r3 (Classic TF-IDF
    # stays pass-local-gated; the similarity-dispatch family is certified by
    # ft_dfr_topk, and funcexpr certifies the NEW parsed ValueSource surface)
    # ft_after_update_topk rotated out for ft_after_expunge_topk (r4-cont):
    # STRICTLY richer — the expunge fixture applies the IDENTICAL
    # tombstone+re-add update (same terms, same oracle), then physically
    # rewrites the deletes out (forceMergeDeletes: postings re-encode,
    # local-id compaction, base re-derivation, stats re-finalize); a bug in
    # either the update path or the reclaim goes hash-red in one row. The
    # tombstone-path answer stays pass-local-gated.
    "ft_after_expunge_topk", "ft_funcexpr_topk",
    # highlighting replaced ft_synonym_topk in the scored window in r3 (the
    # token-graph analyzer family stays covered by the pass-local gates)
    # ft_highlight_topk rotated out for ft_highlight_passages (r4-cont):
    # passages is STRICTLY richer — passage 1 is the identical best-window
    # choice (same wins/tie-break CTEs), plus the non-overlap second
    # passage and document-order rendering; the single-window entry stays
    # pass-local-gated
    "ft_highlight_passages",
    # facets / stats / grouping
    # facet_query rotated out for facet_pivot late in r3 (the conditional
    # aggregate stays pass-local-gated; pivot certifies the NEW multi-level
    # bucket-tree surface with its broadcast dim join)
    # facet_range rotated out for ft_multiphrase_topk late in r3 (numeric
    # range bucketing stays certified in-window by facet_heatmap's grid
    # binning and pass-local by facet_range/facet_range_date/facet_interval;
    # multiphrase certifies the NEW slot-union positional query class)
    # facet_nested rotated out for ft_exactstats_topk (r4): the subfacet
    # bucket tree stays pass-local-gated and its multi-level bucket shape
    # is scored inside facet_pivot (the same nested partial+final agg
    # tree); exactstats certifies the NEW distributed-search surface —
    # hash-routed shard indexes, the ExactStatsCache stats-merge exchange,
    # per-shard kernels under injected global weights, and the
    # scatter-gather page merge, pinned bitwise to the single-collection
    # oracle — which no other scored row exercises
    # ft_exactstats_topk rotated out for ft_split_union_topk (r4): the
    # ExactStatsCache stats-merge + scatter-gather page merge run VERBATIM
    # inside the split row (shared engine.scatter_gather_topk helper), so
    # they stay scored; the split row ADDS the SPLITSHARD surface — md5
    # hash routing, hard-linked child segments behind per-child tombstone
    # masks, per-child stats refresh — pinned bitwise to the same
    # single-collection oracle. The independently-built shard alias stays
    # pass-local-gated.
    "facet_terms", "ft_multiphrase_topk", "facet_pivot", "ft_split_union_topk",
    "facet_heatmap", "facet_unique_hll",
    # collapse_best_order rotated out for dedup_clusters late in r3 (the
    # collapse window shuffle stays scored inside collapse_expand, which
    # contains the collapse step; clusters certify the NEW connected-
    # components assembly over the near-dup pair generator)
    # group_topk rotated out for ft_rrf_topk (r3-cont): top-k-per-group
    # stays scored inside collapse_expand (the same single window shuffle)
    # and pass-local; RRF certifies the NEW hybrid rank-fusion surface
    # (two WAND legs fused by reciprocal rank)
    # dedup_clusters rotated out for pipeline_select (r4-cont): the
    # connected-components assembly over the jaccard pair generator runs
    # VERBATIM inside pipeline_select's near-dup stage (and stays
    # pass-local-gated); the funnel row is strictly richer — it scores the
    # composed quality + exact-dup-keeper + keep-best-exemplar decision a
    # shipped pipeline actually emits, which no other scored row exercises
    "stats_component", "pipeline_select", "collapse_expand", "ft_rrf_topk",
    # streaming expressions (jdbc = the Derby round-trip source);
    # stream_rollup rotated out for ft_facet_on_query late in r3 (grouped
    # aggregation stays scored via stream_reduce and the facet family;
    # facet-on-query certifies the NEW composed q=+facet.field request)
    # stream_timeseries rotated out for stream_regress late in r3 (the
    # day-bucket groupBy shape stays scored via stream_reduce and the facet
    # family; regress certifies the NEW math-expression evaluator family
    # with its exact-sufficient-statistics float discipline)
    # stream_inner_join rotated out for ft_join_topk (the relational join
    # shape stays scored via stream_jdbc_source's join-back verification and
    # pass-local gates; ft_join_topk certifies the NEW query-time join
    # surface — JoinUtil from-value gather + TermsInSet-under-FILTER — which
    # contains a distributed join in its gather step)
    # stream_reduce rotated out for ft_payload_topk in r4 (the generic
    # grouped-reduce shape stays scored via stream_regress's sufficient-
    # statistics aggregate and the facet family, and pass-local; payloads
    # certify the NEW DelimitedPayload + PayloadScoreQuery family —
    # per-position payload parse and the f32 ordered payload fold)
    "ft_join_topk", "stream_jdbc_source", "ft_facet_on_query",
    "stream_regress", "stream_significant_terms", "ft_payload_topk",
    # update chain + LLM-pipeline operators
    "update_chain_docs",
    # dedup_exact rotated out for dedup_semantic (exact dedup returns 0
    # rows at sf0.01 — a vacuous scored row; its hash-groupBy mechanism is
    # certified by a dozen scored aggregates and the pass-local gate.
    # semantic certifies the NEW SemDeDup cluster-then-compare family)
    # embed_top_pairs rotated out for ft_surround_topk in r4 (its LSH
    # band-candidate generator is exactly ann_lsh_topk's scored path — the
    # r1 quadratic-baseline complaint it fixed stays certified there and
    # pass-local; surround certifies the NEW distance-operator parse
    # surface AND the new NearSpansUnordered kernel in one scored row)
    # dedup_shingle_jaccard rotated out for dedup_spans (r4-cont): the
    # exact-Jaccard near-dup generator (hot-shingle guard included) stays
    # pass-local-gated and its candidate equi-join shape is scored inside
    # dedup_minhash_lsh's verify step; spans certify the NEW corpus-vs-
    # corpus exact-substring (positional n-gram) dedup family, which no
    # other scored row exercises
    # dedup_simhash rotated out for pack_loss_masks (r4-cont): the
    # tf-weighted banded simhash stays pass-local-gated and the banded-
    # candidate equi-join shape stays scored via dedup_minhash_lsh; the
    # loss-mask row certifies the NEW sequence-packing family — the
    # distributed two-pass token prefix sum (pack_sequences' placement,
    # verbatim) PLUS role-masked span clipping at sequence cuts — which no
    # other scored row exercises
    "dedup_semantic", "dedup_spans", "dedup_minhash_lsh", "pack_loss_masks",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ft_surround_topk",
    # graph_gather_nodes rotated out for stream_sessionize (r4-cont):
    # gatherNodes' frontier equi-join IS one superstep of shortest_path's
    # scored BFS loop (and stays pass-local-gated); sessionize certifies
    # the NEW session_window merged-interval aggregation operator — the
    # stateful-streaming-capable sessionizer no other scored row touches
    "stream_sessionize", "graph_shortest_path",
    # token_counts rotated out for dsir_select (r4-cont): the ws/std/BPE-ish
    # token counting stays scored inside text_quality's token/char/stopword
    # signals and pass-local; dsir_select certifies the NEW importance-
    # resampling selection family (DSIR hashed-ngram target/raw LM log-ratio
    # weights — the data-selection step of a pretraining pipeline, which no
    # other scored row exercises)
    "text_quality", "dsir_select", "multimodal_features",
]


def _ordered(entries: dict) -> dict:
    missing = [n for n in PRIORITY_ORDER if n not in entries]
    if missing:
        raise KeyError(f"PRIORITY_ORDER names unknown queries: {missing}")
    out = {n: entries[n] for n in PRIORITY_ORDER}
    out.update((n, v) for n, v in entries.items() if n not in out)
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(ops_queries())


def all_oracles() -> dict[str, str]:
    oracles = ops_oracles()
    return {n: oracles[n] for n in all_queries() if n in oracles}
