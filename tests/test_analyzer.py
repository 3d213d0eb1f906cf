"""Analyzer chain goldens (FIXTURES.md §4 analyzer_golden): positions are
0-based and stop holes advance the position counter (StopFilter
enablePositionIncrements semantics)."""

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis import LuceneChainAnalyzer, SimpleAnalyzer


def test_golden_sentence():
    a = LuceneChainAnalyzer()
    assert a.analyze("The Quick fox and the lazy dog!") == [
        ("quick", 1), ("fox", 2), ("lazi", 5), ("dog", 6),
    ]


def test_stopword_only_is_empty():
    a = LuceneChainAnalyzer()
    assert a.analyze("the and of to is") == []


def test_punctuation_and_case():
    a = LuceneChainAnalyzer()
    assert a.analyze("Running, CONNECTED! errors?") == [
        ("run", 0), ("connect", 1), ("error", 2),
    ]


def test_max_token_length_split():
    a = SimpleAnalyzer()
    long = "x" * 600
    toks = a.analyze(long)
    assert [t for t, _ in toks] == ["x" * 255, "x" * 255, "x" * 90]
    assert [p for _, p in toks] == [0, 1, 2]


def test_batch_matches_single():
    a = LuceneChainAnalyzer()
    texts = pd.Series([
        "The Quick fox and the lazy dog!",
        "",
        "running RUNS ran connection",
        "the and of",
        "spark error token spark",
    ])
    frame = a.analyze_batch(texts)
    for i, text in enumerate(texts):
        got = list(zip(frame.term[frame.row == i], frame.pos[frame.row == i]))
        assert got == a.analyze(text), f"row {i}"
    # doc_len = kept tokens only (holes don't count)
    np.testing.assert_array_equal(frame.attrs["doc_len"], [4, 0, 4, 0, 4])


def test_batch_all_empty():
    a = LuceneChainAnalyzer()
    frame = a.analyze_batch(pd.Series(["", None, "the"]))
    assert len(frame) == 0
    np.testing.assert_array_equal(frame.attrs["doc_len"], [0, 0, 0])


def test_apostrophe_kept_in_token():
    a = SimpleAnalyzer()
    assert a.analyze("don't stop")[0][0] == "don't"


# --- token-graph chains (synonym / shingle / edge-ngram) --------------------

def test_synonym_analyzer_merges_variants():
    from lucene_solr_spark.analysis import SynonymAnalyzer

    a = SynonymAnalyzer()
    assert a.analyze("Row tuple line") == [("line", 0), ("line", 1), ("line", 2)]
    import pandas as pd
    f = a.analyze_batch(pd.Series(["Row tuple line", "no map here"]))
    assert list(f[f.row == 0].term) == ["line", "line", "line"]
    assert list(f.attrs["doc_len"]) == [3, 3]


def test_shingle_analyzer_unigrams_plus_bigrams_discounted():
    from lucene_solr_spark.analysis import ShingleAnalyzer

    a = ShingleAnalyzer()
    toks = a.analyze("table hash join")
    assert ("table", 0) in toks and ("hash", 1) in toks and ("join", 2) in toks
    assert ("table hash", 0) in toks and ("hash join", 1) in toks
    import pandas as pd
    f = a.analyze_batch(pd.Series(["table hash join", "solo"]))
    # norms count unigrams only (discountOverlaps)
    assert list(f.attrs["doc_len"]) == [3, 1]
    r0 = f[f.row == 0]
    assert sorted(r0.term) == sorted(
        ["table", "hash", "join", "table hash", "hash join"]
    )
    # shingles share the first token's position
    assert set(r0[r0.term == "table hash"].pos) == {0}


def test_edgegram_analyzer_grams_and_short_tokens():
    from lucene_solr_spark.analysis import EdgeNGramAnalyzer

    a = EdgeNGramAnalyzer()
    assert a.analyze("merge") == [("me", 0), ("mer", 0), ("merg", 0)]
    assert a.analyze("a") == [("a", 0)]
    import pandas as pd
    f = a.analyze_batch(pd.Series(["merge a", "hash"]))
    assert list(f.attrs["doc_len"]) == [2, 1]
    assert sorted(f[f.row == 0].term) == sorted(["me", "mer", "merg", "a"])
    assert sorted(f[f.row == 1].term) == sorted(["ha", "has", "hash"])


def test_tokengraph_batch_matches_perrow():
    """Vectorized postprocess_frame ≡ per-token postprocess_tokens."""
    import pandas as pd
    from lucene_solr_spark.analysis import (
        EdgeNGramAnalyzer, ShingleAnalyzer, SynonymAnalyzer,
    )

    texts = pd.Series([
        "Table hash JOIN row", "tuple row tuple", "", "a b", "merge batch scan",
    ])
    for cls in (SynonymAnalyzer, ShingleAnalyzer, EdgeNGramAnalyzer):
        a = cls()
        f = a.analyze_batch(texts)
        got = sorted(zip(f.row, f.term, f.pos))
        want = sorted(
            (i, t, p) for i, txt in enumerate(texts) for t, p in a.analyze(txt)
        )
        assert got == want, cls.__name__


def test_tokengraph_batch_matches_perrow_hypothesis():
    """Property form of the cross-path parity: arbitrary ASCII batches."""
    from hypothesis import given, settings, strategies as st
    import pandas as pd
    from lucene_solr_spark.analysis import (
        EdgeNGramAnalyzer, ShingleAnalyzer, SynonymAnalyzer,
    )

    texts_strategy = st.lists(
        st.text(
            alphabet=" abcdef_019'’-.,ROWtuple",  # tokens + separators + map hits
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=60, deadline=None)
    @given(texts_strategy)
    def check(texts):
        s = pd.Series(texts)
        for cls in (SynonymAnalyzer, ShingleAnalyzer, EdgeNGramAnalyzer):
            a = cls()
            f = a.analyze_batch(s)
            got = sorted(zip(f.row, f.term, f.pos))
            want = sorted(
                (i, t, p) for i, txt in enumerate(texts) for t, p in a.analyze(txt)
            )
            assert got == want, cls.__name__
            want_len = [len(a._analyze_base(t)) for t in texts]
            assert list(f.attrs["doc_len"]) == want_len, cls.__name__

    check()


# --- unicode goldens: the per-row reference path's MEASURED behavior ---------
# Non-ASCII input routes to _UNI_TOKEN_RE, a UAX#29 approximation of
# StandardTokenizer's word-break classes: unicode letter/digit/mark runs
# (with embedded apostrophes), per-character Han/Hiragana tokens
# (IDEOGRAPHIC/HIRAGANA), Katakana/Hangul/Cyrillic runs. These goldens pin
# the measured segmentation; residual deviations from full UAX#29 are
# documented at the regex definition (analyzer.py).

import pandas as pd  # noqa: E402
import pytest  # noqa: E402


UNICODE_GOLDENS = [
    # (input, [(term, pos), ...]) — SimpleAnalyzer (lower, no stop/stem)
    ("caf\u00e9 na\u00efve", [("caf\u00e9", 0), ("na\u00efve", 1)]),
    ("\u00dcbung stra\u00dfe", [("\u00fcbung", 0), ("stra\u00dfe", 1)]),
    # Han + Hiragana: one token per char; Katakana: a run
    ("\u65e5\u672c\u8a9e \u30c6\u30b9\u30c8",
     [("\u65e5", 0), ("\u672c", 1), ("\u8a9e", 2), ("\u30c6\u30b9\u30c8", 3)]),
    ("mixed ascii caf\u00e9 end",
     [("mixed", 0), ("ascii", 1), ("caf\u00e9", 2), ("end", 3)]),
    ("\u041c\u043e\u0441\u043a\u0432\u0430 test",
     [("\u043c\u043e\u0441\u043a\u0432\u0430", 0), ("test", 1)]),
    # NFD combining acute (U+0301) stays inside the run (UAX#29 Extend)
    ("e\u0301tude", [("e\u0301tude", 0)]),
    # embedded curly apostrophe kept (MidLetter)
    ("don\u2019t stop", [("don\u2019t", 0), ("stop", 1)]),
    ("\ud55c\uad6d\uc5b4 \uc870\uc0ac test",
     [("\ud55c\uad6d\uc5b4", 0), ("\uc870\uc0ac", 1), ("test", 2)]),
    ("\u3072\u3089\u304c\u306a",
     [("\u3072", 0), ("\u3089", 1), ("\u304c", 2), ("\u306a", 3)]),
]


@pytest.mark.parametrize("text,want", UNICODE_GOLDENS)
def test_unicode_reference_path_goldens(text, want):
    from lucene_solr_spark.analysis.analyzer import SimpleAnalyzer

    assert SimpleAnalyzer().analyze(text) == want


def test_unicode_batch_equals_per_row():
    """A batch containing ANY non-ASCII routes through the per-row reference
    path — mixed batches must produce identical rows/terms/positions to
    per-row analysis (no token shifting across row boundaries)."""
    from lucene_solr_spark.analysis.analyzer import LuceneChainAnalyzer

    texts = pd.Series([t for t, _ in UNICODE_GOLDENS] + ["plain ascii merge batch"])
    a = LuceneChainAnalyzer()
    frame = a.analyze_batch(texts)
    rows, terms, poss = [], [], []
    for i, t in enumerate(texts):
        for term, p in a.analyze(t):
            rows.append(i), terms.append(term), poss.append(p)
    assert frame["row"].tolist() == rows
    assert frame["term"].astype(str).tolist() == terms
    assert frame["pos"].tolist() == poss


# --- KeywordMarkerFilter: stemmer-exclusion set -------------------------------

def test_keyword_marker_protects_from_stemming():
    """SetKeywordMarkerFilter semantics: protected tokens skip Porter in
    ALL THREE paths (per-row, pandas batch, arrow batch); unprotected
    tokens stem exactly as the base chain."""
    import pandas as pd
    import pyarrow as pa

    from lucene_solr_spark.analysis import KeywordMarkerAnalyzer, LuceneChainAnalyzer

    text = "indexing and merging beats reindexing batches"
    km, base = KeywordMarkerAnalyzer(), LuceneChainAnalyzer()
    got = km.analyze(text)
    terms = [t for t, _ in got]
    assert "indexing" in terms and "merging" in terms       # protected
    assert "reindex" in terms and "batch" in terms          # still stemmed
    base_terms = [t for t, _ in base.analyze(text)]
    assert "index" in base_terms and "merg" in base_terms   # base stems them

    for batch in (pd.Series([text]), pa.array([text])):
        frame = km.analyze_batch(batch)
        assert sorted(frame.term.astype(str)) == sorted(terms)


def test_length_filter_goldens_and_path_parity():
    """LengthFilter(3, 8) — LA/miscellaneous/LengthFilter.java extends
    FilteringTokenFilter: out-of-band tokens drop with position holes and
    shrink the norm length; all three analysis paths agree."""
    import pandas as pd

    from lucene_solr_spark.analysis.analyzer import LengthFilterAnalyzer

    an = LengthFilterAnalyzer()
    # 'a' (1), 'up'/'hi'/'x' (<3) and 'extraordinarily' (>8) drop; holes stay
    got = an.analyze("a big extraordinarily up merge x")
    assert got == [("big", 1), ("merge", 4)]
    texts = pd.Series([
        "a big extraordinarily up merge x",
        "ok merge",
        "",
        "tiny is ok but beautiful stays",
    ])
    frame = an.analyze_batch(texts)
    per_row = {
        i: an.analyze(t) for i, t in texts.items()
    }
    for i, toks in per_row.items():
        sub = frame[frame.row == i]
        assert list(zip(sub.term, sub.pos)) == toks, i
    # norm lengths count survivors only
    assert frame.attrs["doc_len"].tolist() == [
        len(v) for v in per_row.values()
    ]


def test_limit_token_count_goldens_and_path_parity():
    """LimitTokenCount(40) — LA/miscellaneous/LimitTokenCountFilter.java:
    only the first N tokens index (no holes past the cut, the stream just
    ends); the norm length is min(tokens, N); all three paths agree,
    including the pure-Arrow dictionary path (unused categories must leave
    the vocabulary when a term's every occurrence is cut)."""
    import pandas as pd
    import pyarrow as pa

    from lucene_solr_spark.analysis.analyzer import LimitTokenCountAnalyzer

    an = LimitTokenCountAnalyzer()
    long = " ".join(f"tok{i}" for i in range(50)) + " zzuniq"
    got = an.analyze(long)
    assert len(got) == 40 and got[-1] == ("tok39", 39)
    texts = pd.Series([long, "short doc", ""])
    for batch in (texts, pa.array(texts, type=pa.string())):
        frame = an.analyze_batch(batch)
        per_row = {i: an.analyze(t) for i, t in texts.items()}
        for i, toks in per_row.items():
            sub = frame[frame.row == i]
            assert list(zip(sub.term, sub.pos)) == toks, i
        assert frame.attrs["doc_len"].tolist() == [40, 2, 0]
        # zzuniq occurs only past the cut: it must not linger in the
        # term vocabulary (categorical dictionary) either
        assert "zzuniq" not in set(map(str, frame.term.unique()))


def test_uax29_batch_with_empty_rows_keeps_dtypes():
    """A batch with non-ASCII rows that yield no token (and empty rows)
    next to ASCII rows that do: the batch frame keeps row int64, term
    object and pos int32, matches the per-row path, and raises no pandas
    FutureWarning about concatenating empty entries."""
    import warnings

    a = LuceneChainAnalyzer()
    for texts in (
        ["merge the batch", "’", ""],
        ["’ — …", "Über straße merge", "", "batch scan"],
    ):
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            f = a.analyze_batch(pd.Series(texts))
        assert (f.dtypes["row"], f.dtypes["term"], f.dtypes["pos"]) == (
            np.dtype(np.int64), np.dtype(object), np.dtype(np.int32),
        )
        assert list(zip(f.row, f.term, f.pos)) == [
            (i, t, p) for i, txt in enumerate(texts) for t, p in a.analyze(txt)
        ]
