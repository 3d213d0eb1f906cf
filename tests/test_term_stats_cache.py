"""Term stats bound once per searcher (``IndexSearcher.term_stats_rows``,
the ``TermStates#build`` per reader / Solr ``LRUStatsCache`` analog): a
searcher that has already looked terms up answers every stats consumer —
``compile``, ``compile_many``, ``explain``, ``more_like_this_terms`` —
exactly as a freshly opened one does, a commit-point searcher keeps the
commit's stats across later updates, and the cache stays within its
bound."""

import shutil

import pandas as pd
import pytest

from lucene_solr_spark.search import searcher as searcher_mod
from lucene_solr_spark.search.query import BooleanSpec, TermClause
from lucene_solr_spark.search.searcher import IndexSearcher

PRESENT = ["merg", "batch", "stream", "vector"]  # index-time (stemmed) terms
ABSENT = ["qqzabsent", "qqzmissing"]
TERM_LISTS = {
    "present": PRESENT,
    "absent": ABSENT,
    "mixed": [PRESENT[0], ABSENT[0], PRESENT[2], ABSENT[1]],
    "duplicated": [PRESENT[1], PRESENT[1], ABSENT[0], ABSENT[0], PRESENT[3]],
}


@pytest.fixture(scope="module")
def corpus():
    from lucene_solr_spark.datagen import generate_transcripts

    return generate_transcripts(80)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    from lucene_solr_spark.index.build import build_index

    index_dir = str(tmp_path_factory.mktemp("tscache") / "idx")
    build_index(spark, spark.createDataFrame(corpus), index_dir, n_segments=4)
    return index_dir


def _spec(terms, occur="should"):
    return BooleanSpec(**{occur: [TermClause(t) for t in terms]})


def _bound(q):
    """Every stats-derived field of a CompiledQuery (its ``cache`` array
    keeps the dataclass from comparing with ``==``)."""
    return (q.clauses, q.must_not_terms, q.min_should_match, q.k, q.n_must,
            q.combine, q.sim, q.cache.tobytes())


def _answers(searcher, text, doc_id):
    """What each stats consumer returns for every term list; ``searcher()``
    gives the searcher each answer comes from."""
    out = {}
    for name, terms in TERM_LISTS.items():
        out[name, "rows"] = searcher().term_stats_rows(terms)
        out[name, "df"] = searcher().term_stats(terms)
        out[name, "compile"] = _bound(searcher().compile(_spec(terms), k=7))
        out[name, "compile_must"] = _bound(searcher().compile(_spec(terms, "must"), k=3))
        out[name, "explain"] = searcher().explain(_spec(terms), doc_id)
    many = searcher().compile_many({name: (_spec(terms), 5) for name, terms in TERM_LISTS.items()})
    out["compile_many"] = {qid: _bound(q) for qid, q in many.items()}
    out["mlt"] = searcher().more_like_this_terms(text, top_terms=4)
    return out


def _assert_same(got, want):
    assert got.keys() == want.keys()
    for key in want:
        if isinstance(want[key], pd.DataFrame):
            pd.testing.assert_frame_equal(got[key], want[key], check_exact=True)
        else:
            assert got[key] == want[key], key


def _fresh(spark, index_dir, commit=None):
    """A newly opened searcher per call."""
    return lambda: IndexSearcher(spark, index_dir, commit)


def _mlt_text(corpus):
    return " ".join(corpus.text.iloc[:3]) + " " + " ".join(ABSENT)


def test_warm_searcher_answers_as_a_fresh_one(spark, corpus, index):
    text, doc_id = _mlt_text(corpus), 5
    want = _answers(_fresh(spark, index), text, doc_id)
    rows = want["present", "rows"]
    assert set(rows[0]) == set(PRESENT) and want["absent", "rows"] == ({}, {})
    assert set(want["mixed", "rows"][0]) == {PRESENT[0], PRESENT[2]}
    warm = IndexSearcher(spark, index)
    warm.term_stats_rows([PRESENT[0], ABSENT[1]])  # some terms hit, some miss
    for _ in range(2):  # the second round is served from the cache alone
        _assert_same(_answers(lambda: warm, text, doc_id), want)
    assert set(warm._term_stats) >= {*PRESENT, *ABSENT}
    assert {warm._term_stats[t] for t in ABSENT} == {(0, 0)}


def test_commit_point_keeps_its_stats_after_update(spark, corpus, index, tmp_path):
    from lucene_solr_spark.index.commits import commit_point
    from lucene_solr_spark.index.updates import update_docs

    idx = str(tmp_path / "idx")
    shutil.copytree(index, idx)
    gen = commit_point(idx)
    text, doc_id = _mlt_text(corpus), 5
    at = IndexSearcher(spark, idx, commit=gen)
    before = _answers(lambda: at, text, doc_id)
    changed = corpus[corpus.turn_idx == 0].copy()
    changed["text"] = changed["text"] + f" {PRESENT[0]} {PRESENT[1]} {ABSENT[0]}"
    update_docs(spark, spark.createDataFrame(changed), idx, n_segments=2)
    # the update moved the live stats ...
    live = IndexSearcher(spark, idx).term_stats_rows(TERM_LISTS["mixed"])
    assert live != before["mixed", "rows"] and ABSENT[0] in live[0]
    # ... while the filled commit searcher, and a new one at the same
    # commit, still answer with the commit's stats
    _assert_same(_answers(lambda: at, text, doc_id), before)
    _assert_same(_answers(_fresh(spark, idx, gen), text, doc_id), before)


def test_cache_stays_within_its_bound(spark, corpus, index, monkeypatch):
    monkeypatch.setattr(searcher_mod, "TERM_STATS_CACHE_MAX", 3)
    text, doc_id = _mlt_text(corpus), 5
    want = _answers(_fresh(spark, index), text, doc_id)
    s = IndexSearcher(spark, index)
    for _ in range(2):
        _assert_same(_answers(lambda: s, text, doc_id), want)
        assert len(s._term_stats) <= 3
    # one lookup wider than the bound still answers every term
    wide = [*PRESENT, *ABSENT]
    got = s.term_stats_rows(wide)
    assert got == IndexSearcher(spark, index).term_stats_rows(wide)
    assert set(got[0]) == set(got[1]) == set(PRESENT)
    assert len(s._term_stats) <= 3
