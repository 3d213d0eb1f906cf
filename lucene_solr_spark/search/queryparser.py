"""Classic Lucene query-string parser → BooleanSpec.

Analog of ``L/queryparser/classic/QueryParser.java`` (the javacc grammar's
Query/Clause productions) with the default operator OR, restricted to the
surface the flat boolean kernels execute:

- bare terms (analyzed through the index chain), ``+`` = MUST, ``-``/``NOT``
  = MUST_NOT, ``AND``/``&&`` and ``OR``/``||`` conjunctions with Lucene's
  retroactive-promotion rule (``QueryParserBase#addClause``: AND promotes
  the PREVIOUS clause to required unless prohibited);
- quoted phrases ``"a b"`` with ``~slop`` (sloppy) — stop-filter position
  holes preserved in the offsets, exactly like ``QueryParserBase``'s
  analyzed PhraseQuery;
- ``^boost`` on terms, phrases, and groups;
- parenthesised groups — pure disjunctions of terms compile to one
  OrGroupClause (the DisjunctionSumScorer subtree the kernels support);
  a single-clause group unwraps with its boost folded in; anything deeper
  raises (documented engine limit, not silently wrong results);
- multi-term queries: trailing-``*`` prefix, ``*``/``?`` wildcards, and
  ``~``/``~1``/``~2`` fuzzy — expanded against the term dictionary via the
  caller-supplied ``expand`` callback (SCORING_BOOLEAN_REWRITE, the same
  rewrite ``searcher.multiterm_spec`` uses) into an OrGroupClause;
- ``field:value`` — the default text field passes through; keyword fields
  (Solr StrField analog, indexed as ``\\x01field:value`` posting lists)
  become FILTER occur (non-scoring required) or MUST_NOT.

A term that analyzes to nothing (stopword) drops its clause, like the
reference's analyzer-eaten terms. A MUST multi-term that expands to nothing
makes the query match nothing (conjunction semantics) — emitted as an
impossible sentinel term the compiler already handles (df=0 MUST).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .query import BooleanSpec, OrGroupClause, PhraseClause, TermClause

# sentinel that no analyzer chain can ever emit (control char): a MUST
# clause on it compiles to match-nothing (df=0 conjunction semantics)
IMPOSSIBLE_TERM = "\x00impossible"

_WORD_CHARS = r'[^\s()^~"]'


@dataclass(frozen=True)
class _Tok:
    kind: str   # lparen rparen phrase and or not plus minus word
    text: str = ""
    slop: int = 0
    boost: float = 1.0
    fuzzy: int = -1  # word only: -1 = not fuzzy, else maxEdits


def _scan_boost(s: str, i: int) -> tuple[float, int]:
    m = re.match(r"\^(\d+(?:\.\d+)?)", s[i:])
    if m:
        return float(m.group(1)), i + m.end()
    return 1.0, i


def tokenize(q: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "(":
            toks.append(_Tok("lparen"))
            i += 1
        elif ch == ")":
            boost, i = _scan_boost(q, i + 1)
            toks.append(_Tok("rparen", boost=boost))
        elif ch == '"':
            j = q.find('"', i + 1)
            if j < 0:
                raise ValueError(f"unbalanced quote at {i}: {q!r}")
            body = q[i + 1:j]
            i = j + 1
            slop = 0
            m = re.match(r"~(\d+)", q[i:])
            if m:
                slop, i = int(m.group(1)), i + m.end()
            boost, i = _scan_boost(q, i)
            toks.append(_Tok("phrase", body, slop=slop, boost=boost))
        elif ch == "+":
            toks.append(_Tok("plus"))
            i += 1
        elif ch == "-":
            toks.append(_Tok("minus"))
            i += 1
        elif ch == "!":
            toks.append(_Tok("not"))
            i += 1
        else:
            m = re.match(_WORD_CHARS + "+", q[i:])
            word = m.group(0)
            i += m.end()
            if word in ("AND", "&&"):
                toks.append(_Tok("and"))
                continue
            if word in ("OR", "||"):
                toks.append(_Tok("or"))
                continue
            if word == "NOT":
                toks.append(_Tok("not"))
                continue
            fuzzy = -1
            m = re.match(r"~(\d?)", q[i:])
            if m:
                fuzzy = int(m.group(1)) if m.group(1) else 2  # Lucene default
                i += m.end()
            boost, i = _scan_boost(q, i)
            toks.append(_Tok("word", word, boost=boost, fuzzy=fuzzy))
    return toks


def _analyze_terms(analyzer, text: str) -> list[tuple[str, int]]:
    return analyzer.analyze(text)


def _word_clause(tok: _Tok, analyzer, expand):
    """One bare-word token → TermClause | OrGroupClause | None (stopword) |
    IMPOSSIBLE (dead multi-term). Wildcard/fuzzy terms are lowercased raw
    (``lowercaseExpandedTerms``), never analyzed — QueryParserBase's
    getWildcardQuery/getFuzzyQuery discipline."""
    w = tok.text
    if tok.fuzzy >= 0 or "*" in w or "?" in w:
        if expand is None:
            raise ValueError(
                f"multi-term query {w!r} needs an index-backed expander"
            )
        raw = w.lower()
        if tok.fuzzy >= 0:
            terms = expand("fuzzy", (raw, tok.fuzzy))
        elif raw.endswith("*") and "*" not in raw[:-1] and "?" not in raw:
            terms = expand("prefix", raw[:-1])
        else:
            # Lucene */? glob → SQL LIKE %/_ (searcher.expand_terms syntax)
            terms = expand("wildcard", raw.replace("*", "%").replace("?", "_"))
        if not terms:
            return IMPOSSIBLE_TERM
        if len(terms) == 1:
            return TermClause(terms[0], tok.boost)
        return OrGroupClause(tuple(terms), tok.boost)
    analyzed = _analyze_terms(analyzer, w)
    if not analyzed:
        return None
    if len(analyzed) == 1:
        return TermClause(analyzed[0][0], tok.boost)
    # one surface word → several tokens (e.g. punctuation split): classic
    # parser with autoGeneratePhraseQueries=false builds a SHOULD boolean
    return OrGroupClause(tuple(t for t, _ in analyzed), tok.boost)


def _phrase_clause(tok: _Tok, analyzer):
    analyzed = _analyze_terms(analyzer, tok.text)
    if not analyzed:
        return None
    if len(analyzed) == 1:
        return TermClause(analyzed[0][0], tok.boost)
    base = analyzed[0][1]
    return PhraseClause(
        tuple(t for t, _ in analyzed),
        tuple(p - base for _, p in analyzed),
        boost=tok.boost,
        slop=tok.slop,
    )


def parse_query_string(
    q: str,
    analyzer,
    expand=None,
    keyword_fields: tuple[str, ...] = (),
    default_field: str = "text",
) -> BooleanSpec:
    """Parse a classic Lucene query string into a BooleanSpec (see module
    docstring for the supported surface). ``expand(kind, pattern)`` resolves
    prefix/wildcard/fuzzy patterns against the live term dictionary."""
    toks = tokenize(q)
    spec, i = _parse_group(toks, 0, analyzer, expand, keyword_fields,
                           default_field, top=True)
    return spec


def _parse_group(
    toks, i, analyzer, expand, keyword_fields, default_field, top=False,
) -> tuple[BooleanSpec, int]:
    from ..index.build import keyword_term

    # entries: [occur, clause] with occur in must/should/must_not/filter
    entries: list[list] = []
    conj = None   # None | 'and' | 'or'
    mods = None   # None | 'req' | 'not'

    def add(clause, is_keyword=False):
        nonlocal conj, mods
        if clause is None:           # stopword-eaten — drop silently
            conj = mods = None
            return
        prohibited = mods == "not"
        # AND retro-promotes the previous clause (addClause rule)
        if conj == "and" and entries and entries[-1][0] != "must_not":
            if entries[-1][0] == "should":
                entries[-1][0] = "must"
        if clause == IMPOSSIBLE_TERM:
            clause = TermClause(IMPOSSIBLE_TERM)
        required = (mods == "req") or (conj == "and" and not prohibited)
        if prohibited:
            occ = "must_not"
        elif is_keyword:
            occ = "filter"           # scoring-free StrField match (fq analog)
        elif required:
            occ = "must"
        else:
            occ = "should"
        entries.append([occ, clause])
        conj = mods = None

    while i < len(toks):
        t = toks[i]
        i += 1
        if t.kind == "and":
            conj = "and"
        elif t.kind == "or":
            conj = "or"
        elif t.kind == "not":
            mods = "not"
        elif t.kind == "plus":
            mods = "req"
        elif t.kind == "minus":
            mods = "not"
        elif t.kind == "phrase":
            add(_phrase_clause(t, analyzer))
        elif t.kind == "lparen":
            sub, i = _parse_group(
                toks, i, analyzer, expand, keyword_fields, default_field
            )
            boost = sub._group_boost  # set by the rparen handler below
            add(_fold_group(sub, boost))
        elif t.kind == "rparen":
            if top:
                raise ValueError("unbalanced ')'")
            spec = _build(entries)
            spec._group_boost = t.boost
            return spec, i
        else:  # word
            fld, val = _split_field(t.text, keyword_fields, default_field)
            if fld is None:
                if val != t.text:  # explicit default-field prefix stripped
                    t = _Tok("word", val, boost=t.boost, fuzzy=t.fuzzy)
                add(_word_clause(t, analyzer, expand))
            else:
                add(TermClause(keyword_term(fld, val), t.boost),
                    is_keyword=True)
    if not top:
        raise ValueError("unbalanced '('")
    return _build(entries), i


def _split_field(word, keyword_fields, default_field):
    """Returns (keyword_field, value) or (None, word-with-default-field
    -prefix-stripped)."""
    m = re.match(r"([A-Za-z_][A-Za-z0-9_]*):(.+)$", word)
    if not m:
        return None, word
    fld, val = m.group(1), m.group(2)
    if fld == default_field:
        return None, val
    if fld in keyword_fields:
        return fld, val
    raise ValueError(f"unknown field {fld!r}")


def _fold_group(sub: BooleanSpec, boost: float):
    """Sub-query → a single clause the flat kernels execute."""
    n = len(sub.must) + len(sub.should) + len(sub.must_not) + len(sub.filter)
    if n == 0:
        return None
    if n == 1 and not sub.must_not and not sub.filter:
        c = (sub.must or sub.should)[0]
        if isinstance(c, (TermClause, PhraseClause)):
            return type(c)(**{**c.__dict__, "boost": c.boost * boost})
        if isinstance(c, OrGroupClause):
            return OrGroupClause(c.terms, c.boost * boost)
    if (
        not sub.must and not sub.must_not and not sub.filter
        and all(isinstance(c, TermClause) and c.boost == 1.0
                for c in sub.should)
    ):
        return OrGroupClause(tuple(c.term for c in sub.should), boost)
    raise ValueError(
        "group shape beyond a pure term disjunction is not supported by the "
        "flat boolean kernels (SURVEY nested-boolean limit)"
    )


def _build(entries) -> BooleanSpec:
    spec = BooleanSpec()
    for occ, c in entries:
        if occ == "must_not":
            if isinstance(c, OrGroupClause):
                # -(a b): excluded when ANY member matches — the engine's
                # must_not union semantics, so flatten to member terms
                spec.must_not.extend(TermClause(t) for t in c.terms)
            elif isinstance(c, TermClause):
                spec.must_not.append(TermClause(c.term))
            else:
                raise ValueError(
                    "prohibited phrases are not supported (must_not is a "
                    "non-scoring term exclusion in the kernels)"
                )
        elif occ == "filter":
            spec.filter.append(TermClause(c.term))
        elif occ == "must":
            spec.must.append(c)
        else:
            spec.should.append(c)
    return spec
