"""UAX#29 word-break goldens for the StandardTokenizer non-ASCII path
(``analysis/uax29.py`` — reference: ``L/analysis/standard/
StandardTokenizerImpl.jflex``, the JFlex compilation of the UAX#29 rules).

Goldens are hand-derived from the Unicode Text Segmentation spec (rules
WB4-WB13b) + Lucene's emission policy (IDEOGRAPHIC/HIRAGANA singles,
SOUTHEAST_ASIAN complex-context runs, everything else dropped), covering
the case families round-4's verdict called out: accented Latin, Cyrillic,
Greek, Arabic, Hebrew with geresh/gershayim, CJK adjacency, combining
marks (in- and outside U+0300-036F), supplementary-plane Han, number
separators, and format-char transparency.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis import LuceneChainAnalyzer, SimpleAnalyzer
from lucene_solr_spark.analysis.uax29 import tokenize

GOLDENS = [
    # WB5/6/7: letters + Single_Quote / MidLetter sandwiches
    ("don't l'idée d'été", ["don't", "l'idée", "d'été"]),
    ("a:b x", ["a:b", "x"]),                      # COLON is MidLetter
    # WB8/11/12: numbers with MidNum/MidNumLet separators
    ("3.1415 1,234.56 π", ["3.1415", "1,234.56", "π"]),
    ("1..2", ["1", "2"]),                          # double mid never joins
    ("3. 14", ["3", "14"]),                        # dangling mid drops
    # WB6/7 with FULL STOP (MidNumLet) between letters
    ("www.example.com π", ["www.example.com", "π"]),
    ("user@example.com π", ["user", "example.com", "π"]),  # '@' breaks
    # accented Latin — precomposed and decomposed (WB4 Extend rides along)
    ("café naïve Zürich", ["café", "naïve", "Zürich"]),
    ("café", ["café"]),
    # combining mark OUTSIDE U+0300-036F (the old approximation broke here)
    ("x॑y", ["x॑y"]),                    # Vedic tone mark, Extend
    # Cyrillic / Greek / Arabic runs
    ("привет мир", ["привет", "мир"]),
    ("Ελληνικά κείμενο", ["Ελληνικά", "κείμενο"]),
    ("العربية النص", ["العربية", "النص"]),
    # Hebrew: WB7a trailing geresh, WB7b/c gershayim
    ("עברית א'ב", ["עברית", "א'ב"]),
    ('מנכ"ל', ['מנכ"ל']),
    ("ספר'", ["ספר'"]),
    # CJK adjacency: Han singles, Hiragana singles, Katakana runs,
    # Hangul (ALetter) runs — and mixed-script boundaries
    ("漢字テスト", ["漢", "字", "テスト"]),
    ("ひらがな", ["ひ", "ら", "が", "な"]),
    ("한국어 텍스트", ["한국어", "텍스트"]),
    ("日本語abc漢", ["日", "本", "語", "abc", "漢"]),
    # supplementary-plane Han: singles (the approximation emitted a run)
    ("𠀀𠀁", ["𠀀", "𠀁"]),
    # dakuten combining mark rides with its Hiragana base (WB4)
    ("がき", ["が", "き"]),
    # SE Asian complex-context runs (no dictionary segmentation — the
    # reference's SOUTHEAST_ASIAN rule)
    ("ภาษาไทย กับ", ["ภาษาไทย", "กับ"]),
    ("ລາວ ខ្មែរ", ["ລາວ", "ខ្មែរ"]),
    # Thai digits are WB Numeric
    ("๑๒๓ บาท", ["๑๒๓", "บาท"]),
    # ExtendNumLet joins (WB13a/13b)
    ("foo_bar a_1 π", ["foo_bar", "a_1", "π"]),
    # format char (ZERO WIDTH NON-JOINER is Extend, SOFT HYPHEN is Format):
    # transparent, kept in the surface
    ("auf­lage π", ["auf­lage", "π"]),
    # punctuation/symbols/emoji drop
    ("C++ & π 😀!", ["C", "π"]),
    # Devanagari with dependent vowels / virama (Extend)
    ("देवनागरी हिन्दी", ["देवनागरी", "हिन्दी"]),
    # empty / no-token inputs
    ("", []),
    ("!!! …", []),
]


@pytest.mark.parametrize("text,want", GOLDENS, ids=[repr(g[0])[:24] for g in GOLDENS])
def test_uax29_goldens(text, want):
    assert tokenize(text) == want


def test_max_token_length_splits():
    long = "б" * 600
    assert tokenize(long) == ["б" * 255, "б" * 255, "б" * 90]


def test_analyzer_routes_non_ascii_through_uax29():
    an = SimpleAnalyzer()
    toks = an.analyze("Поиск 3.14 漢字 κείμενο")
    assert toks == [
        ("поиск", 0), ("3.14", 1), ("漢", 2), ("字", 3), ("κείμενο", 4),
    ]


def test_ascii_subset_deviation_pinned():
    """Pure-ASCII text keeps the documented fast-path subset (no '.' joins);
    the same surface inside a non-ASCII row takes full UAX#29. Dispatch is
    per-row content, hence deterministic."""
    an = SimpleAnalyzer()
    assert [t for t, _ in an.analyze("pi is 3.14")] == ["pi", "is", "3", "14"]
    assert [t for t, _ in an.analyze("π is 3.14")] == ["π", "is", "3.14"]


def test_batch_matches_per_row_on_unicode_corpus():
    texts = [g[0] for g in GOLDENS] + [
        "plain ascii row stays on the fast path",
        "mixed поиск and ascii 3.14 row",
        "がき и café",
    ]
    an = LuceneChainAnalyzer()
    frame = an.analyze_batch(pd.Series(texts))
    per_row = []
    lens = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = an.analyze(t)
        lens[i] = len(toks)
        per_row.extend((i, term, pos) for term, pos in toks)
    got = list(zip(frame["row"].tolist(), frame["term"].tolist(), frame["pos"].tolist()))
    assert got == per_row
    assert frame.attrs["doc_len"].tolist() == lens.tolist()


def test_stop_and_stem_apply_after_uax29():
    an = LuceneChainAnalyzer()
    # 'the' drops with a position hole; ASCII tokens inside a non-ASCII row
    # still stem (Porter is ASCII-only; unicode tokens pass through)
    assert an.analyze("the поиск running π") == [
        ("поиск", 1), ("run", 2), ("π", 3),
    ]


def test_classify_vectorized_matches_scalar():
    from lucene_solr_spark.analysis.uax29 import classify

    rng = np.random.default_rng(7)
    cps = rng.integers(0, 0x110000, size=5000)
    bulk = classify(cps)
    for cp, c in zip(cps[:200], bulk[:200]):
        assert classify(np.array([cp]))[0] == c


def test_joined_scan_equals_per_row_property():
    """Property: tokenizing a '\\n'-joined batch ≡ concatenating per-row
    tokenizations ('\\n' is class Other; no rule joins across it) — the
    invariant the batched analyzer path rests on."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.sampled_from(list(
        "abc ABC 123 _'’.,:-!?\n"
        "éüñß àç привет κείμενο اللغة עברית\"'"
        "漢字ひカタカナ한국ไทยลาว​́­‍𠀀"
    ))
    texts_st = st.lists(st.text(alphabet, max_size=40), min_size=1, max_size=8)

    @settings(max_examples=150, deadline=None)
    @given(texts_st)
    def inner(texts):
        joined_toks = tokenize("\n".join(texts))
        per_row = [t for x in texts for t in tokenize(x)]
        assert joined_toks == per_row

    inner()


def test_batched_analyzer_parity_property():
    """Property: analyze_batch ≡ per-row analyze on arbitrary mixed batches
    (routing, tokenization, lowering, stop holes, stemming, doc_len)."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.sampled_from(list(
        "the and runs running tables café поиск "
        "3.14 a_b 漢字テ x́ "
    ))
    texts_st = st.lists(
        st.text(alphabet, max_size=60), min_size=1, max_size=10
    )
    an = LuceneChainAnalyzer()

    @settings(max_examples=100, deadline=None)
    @given(texts_st)
    def inner(texts):
        frame = an.analyze_batch(pd.Series(texts))
        got = list(zip(
            frame["row"].tolist(),
            [str(t) for t in frame["term"]],
            frame["pos"].tolist(),
        ))
        want = []
        lens = []
        for i, t in enumerate(texts):
            toks = an.analyze(t)
            lens.append(len(toks))
            want.extend((i, term, p) for term, p in toks)
        assert sorted(got) == sorted(want)
        assert frame.attrs["doc_len"].tolist() == lens

    inner()


def test_utf8_offsets_refuse_int32_overflow():
    """Token byte lengths summing past 2**31 − 1 raise instead of wrapping
    the int32 Arrow offsets (lengths only — no 2 GiB buffer)."""
    from lucene_solr_spark.analysis.uax29 import utf8_offsets

    ok = utf8_offsets(np.array([2**30, 2**30 - 1], dtype=np.int64))
    assert ok.dtype == np.int32 and ok.tolist() == [0, 2**30, 2**31 - 1]
    with pytest.raises(ValueError, match="2\\*\\*31"):
        utf8_offsets(np.array([2**30, 2**30, 5], dtype=np.int64))
