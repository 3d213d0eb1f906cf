"""Query tree + compiler.

Analog of the reference's immutable ``Query`` tree and rewrite/createWeight
phases (``L/search/IndexSearcher#rewrite``, ``#createWeight``): surface forms
are analyzed with the SAME chain used at index time
(``Analyzer#getQueryAnalyzer`` discipline), global term statistics are bound
into per-clause float32 weights (``TermStates#build`` analog), producing a
self-contained, picklable CompiledQuery the scoring kernels execute.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .bm25 import BM25, Similarity


@dataclass(frozen=True)
class TermClause:
    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class PhraseClause:
    """Phrase: terms at relative position offsets (stop holes preserved,
    e.g. "merge the segment" → terms (merg, segment), offsets (0, 2)).

    slop=0 is the exact phrase; slop>0 is Lucene's sloppy phrase
    (``L/search/SloppyPhraseMatcher``): matches within edit-distance ``slop``
    of the phrase shape, phrase freq = Σ 1/(matchLength+1) over matches."""

    terms: tuple[str, ...]
    offsets: tuple[int, ...]
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class OrGroupClause:
    """Nested pure-disjunction BooleanQuery as a single clause —
    ``+a +(b c)`` (``L/search/BooleanQuery`` nesting;
    ``Boolean2ScorerSupplier`` builds a DisjunctionSumScorer subtree for
    the inner query). The group matches when ANY member term matches;
    its score is the f32 cast of the float64 sum of member term scores
    (DisjunctionSumScorer order), then combines with sibling clauses
    exactly like any other clause."""

    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class MultiPhraseClause:
    """MultiPhraseQuery (``L/search/MultiPhraseQuery``): a phrase where each
    position slot admits ANY of several terms (synonym-in-phrase, or the
    expanded last slot of a phrase-prefix query à la ``L/search/
    PhraseWildcardQuery``). A start position matches when every slot i has
    SOME member term at start + offsets[i]; freq = matching start count.

    Weight follows MultiPhraseQuery's SimWeight: built from the
    TermStatistics of ALL member terms — boost · f32(Σ idf) over the
    flattened (slot-order, then in-slot order) term sequence."""

    slots: tuple[tuple[str, ...], ...]
    offsets: tuple[int, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirstClause:
    """SpanFirstQuery over a single-term span (``L/search/spans/
    SpanFirstQuery`` = SpanPositionRangeQuery with start=0): matches docs
    where the term occurs with span end <= ``end`` (a term span at position
    p has end p+1, so positions p < end qualify). Each qualifying match has
    width 0, so SpanScorer's slop factor is 1 per match and the clause
    scores exactly like a TermQuery whose tf is the WINDOW-RESTRICTED
    occurrence count (``L/search/spans/SpanScorer#setFreqCurrentDoc``)."""

    term: str
    end: int
    boost: float = 1.0
    # SpanPositionRangeQuery generalization (``L/search/spans/
    # SpanPositionRangeQuery`` — SpanFirstQuery IS its start=0 subclass):
    # qualifying occurrences additionally satisfy pos >= start.
    start: int = 0


@dataclass(frozen=True)
class SpanNearClause:
    """SpanNearQuery over two ordered unit-length term spans
    (``L/search/spans/SpanNearQuery`` with inOrder=true →
    ``NearSpansOrdered``). One candidate span per start position: for each
    occurrence p0 of ``terms[0]``, the minimal ordered span pairs it with
    the nearest following occurrence p1 of ``terms[1]`` (NearSpansOrdered
    shrinks to the least end reachable from the current start); the span
    matches when its width = p1 − p0 − 1 <= ``slop``. Each match
    contributes SloppySimScorer#computeSlopFactor = 1/(1+width) to the
    doc's span freq (``SpanScorer#setFreqCurrentDoc``): f32 slop factors
    summed in float64, one final f32 cast. Weight follows
    SpanWeight#buildSimWeight over BOTH terms' stats: boost · f32(Σ idf),
    the same shape as PhraseClause."""

    terms: tuple[str, str]
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOrClause:
    """SpanOrQuery over unit term spans (``L/search/spans/SpanOrQuery``):
    matches wherever ANY member term occurs. Each occurrence is a width-0
    span with slop factor 1, so tf = the doc's total occurrence count over
    the member terms (positions are unique per occurrence under the index
    chain, so the DisiPriorityQueue never sees duplicate spans and the
    count needs no position decode). Weight = boost · f32(Σ idf) over the
    LIVE member terms (SpanWeight#buildSimWeight over the union's
    termStates; dead members contribute +0.0 like the multiphrase sum)."""

    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class BlendedTermClause:
    """FuzzyQuery's default rewrite (``L/search/TopTermsBlendedFreq
    ScoringRewrite`` + ``FuzzyTermsEnum``): the expanded terms become
    SHOULD term queries that SHARE blended statistics — df = max df across
    the expansions — each wrapped in BoostQuery(1 − ed/min(|term|,
    |target|), float division then float subtraction like the reference).
    Compiled onto the or_group kernel with member weights
    f32(member_boost) · f32(idf(df_blend))."""

    terms: tuple[str, ...]
    member_boosts: tuple[float, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNearUnorderedClause:
    """Unordered SpanNearQuery over two unit term spans
    (``L/search/spans/SpanNearQuery`` with ordered=false →
    ``NearSpansUnordered``): spans consumed in start order; each match's
    width = gap − 1, slop factor 1/(1+max(0,width)), f32 factors summed
    per doc. Weight = boost · f32(Σ idf) over both terms (SpanWeight).
    The surround parser's ``kN(a, b)`` operator compiles to this with
    slop = k − 1 (``lucene/queryparser/surround/query/DistanceQuery``)."""

    terms: tuple[str, str]
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class SynonymClause:
    """SynonymQuery (``L/search/SynonymQuery.java``): several terms scored
    as ONE pseudo-term — per doc tf = Σ member termFreqs (SynonymScorer over
    a DisiPriorityQueue of the member postings), collection stats merged as
    docFreq = max member df (SynonymWeight's TermStatistics merge). This is
    what ``QueryBuilder#analyzeGraphBoolean`` emits for same-position query
    tokens (posInc-0 graphs — e.g. the KeywordRepeat chain's original +
    stem pair). One score per doc: boost · idf(df_max) applied to the
    SUMMED tf — unlike BlendedTermQuery, members do NOT score separately."""

    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNearOrClause:
    """Nested spans: ordered SpanNearQuery whose two operands are
    SpanOrQuery unions of unit term spans (``L/search/spans/SpanNearQuery``
    wrapping ``SpanOrQuery`` sub-spans — the composite-span case). Matching
    and slop-factor freq follow NearSpansOrdered exactly as the flat
    two-term case, with each operand's occurrence stream being the
    position-union of its member terms (duplicate (doc,pos) collapse, the
    DisiPriorityQueue discipline). Weight = boost · f32(Σ idf) over ALL
    live member terms of both operands (SpanWeight#buildSimWeight collects
    every leaf termState)."""

    slots: tuple[tuple[str, ...], tuple[str, ...]]
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class IntervalUnorderedClause:
    """Unordered interval query with a gap cap (``lucene/queries/.../
    intervals/Intervals.java#unordered`` wrapped in ``#maxgaps``, executed
    by ``IntervalQuery``): matches the MINIMAL intervals containing both
    terms in either order with end − start − 1 <= maxgaps. Each matching
    interval contributes 1/(1 + gaps) to the doc freq (the span family's
    slop-factor shape); weight follows the phrase-clause SimWeight —
    boost · f32(Σ idf over both terms)."""

    terms: tuple[str, str]
    maxgaps: int = 0
    # ordered=True is ``Intervals.ordered``: a minimal ordered interval is
    # an occurrence of terms[0] immediately followed in the merged stream
    # by one of terms[1] (wider (a, b) pairings contain a smaller one)
    ordered: bool = False
    boost: float = 1.0


@dataclass(frozen=True)
class SpanContainClause:
    """SpanContainingQuery / SpanWithinQuery (``L/search/spans/
    SpanContainingQuery``, ``SpanWithinQuery`` — both extend
    ``SpanContainQuery``) over an ordered two-term SpanNear ``big`` and a
    unit term ``little``. Containment per ``ContainSpans``: big.start <=
    little.start and little.end <= big.end.

    mode='containing': result spans are the matched big spans enclosing
    some little occurrence — each contributes 1/(1+width(big)) to the
    span freq like SpanNear. mode='within': result spans are the little
    occurrences enclosed by some matched big span — width-0 spans, slop
    factor 1 each. Weight = boost · f32(Σ idf) over big AND little terms
    (``SpanContainQuery`` builds its SimWeight from the termStates of both
    sides)."""

    big: tuple[str, str]
    little: str
    big_slop: int = 0
    mode: str = "containing"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotClause:
    """SpanNotQuery over term spans (``L/search/spans/SpanNotQuery``):
    matches occurrences of ``include`` that do NOT fall within ``pre``
    positions before / ``post`` positions after any occurrence of
    ``exclude`` (a unit include span at p is removed when some exclude
    occurrence q satisfies p − pre <= q <= p + post). tf = the surviving
    occurrence count (each surviving width-0 span has slop factor 1);
    weight = boost · idf(include) — SpanWeight builds its SimWeight from
    the include side's stats only."""

    include: str
    exclude: str
    pre: int = 0
    post: int = 0
    boost: float = 1.0


@dataclass
class BooleanSpec:
    """MUST ∧ SHOULD ∨ MUST_NOT ¬ with minimumNumberShouldMatch
    (``L/search/BooleanQuery``). Empty must+should ⇒ matches nothing.

    ``dismax=True`` switches the SHOULD combiner to DisjunctionMaxQuery
    semantics: score = max(sub) + tie·(Σsub − max(sub))
    (``L/search/DisjunctionMaxQuery`` / ``DisjunctionMaxScorer``)."""

    must: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)  # TermClause only (non-scoring)
    # FILTER occur (BooleanClause.Occur.FILTER): required for matching,
    # contributes NOTHING to the score. Compiled as weight-0 MUST clauses —
    # at scale this is how keyword filters run as posting intersections
    # (index/build.keyword_term) instead of driver-collected id sets.
    filter: list = field(default_factory=list)  # TermClause | OrGroupClause
    min_should_match: int = 0
    dismax: bool = False
    tie: float = 0.0
    # CoveringQuery (L/search/CoveringQuery): per-doc DYNAMIC
    # minimumNumberMatched from a LongValuesSource. The engine's numeric
    # docvalue here is the dense doc-key rank (== global docID by
    # construction); threshold(doc) = 1 + (docID mod covering_mod).
    # 0 = ordinary static minShouldMatch.
    covering_mod: int = 0

    @property
    def scoring_clauses(self) -> list:
        return [*self.must, *self.should]

    def all_terms(self) -> list[str]:
        out: list[str] = []
        for c in self.scoring_clauses:
            if isinstance(c, (PhraseClause, OrGroupClause, SpanNearClause,
                              SpanNearUnorderedClause, SynonymClause,
                              SpanOrClause, BlendedTermClause,
                              IntervalUnorderedClause)):
                out.extend(c.terms)
            elif isinstance(c, SpanNotClause):
                out.extend((c.include, c.exclude))
            elif isinstance(c, SpanContainClause):
                out.extend((*c.big, c.little))
            elif isinstance(c, (MultiPhraseClause, SpanNearOrClause)):
                for slot in c.slots:
                    out.extend(slot)
            else:
                out.append(c.term)
        out.extend(c.term for c in self.must_not)
        for c in self.filter:
            if isinstance(c, OrGroupClause):
                out.extend(c.terms)
            else:
                out.append(c.term)
        return sorted(set(out))

    @property
    def has_phrase(self) -> bool:
        return any(isinstance(c, PhraseClause) for c in self.scoring_clauses)


def parse_fixture_query(
    analyzer, qtype: str, surface_terms: list[str], min_should: int = 0, slop: int = 0
) -> BooleanSpec:
    """Compile one FIXTURES.md §2 query row into a BooleanSpec."""
    def toks(surface: str) -> list[str]:
        return [t for t, _ in analyzer.analyze(surface)]

    spec = BooleanSpec(min_should_match=min_should)
    if qtype == "term":
        for s in surface_terms:
            spec.should.extend(TermClause(t) for t in toks(s))
    elif qtype in ("and2", "and3"):
        for s in surface_terms:
            spec.must.extend(TermClause(t) for t in toks(s))
    elif qtype in ("or2", "or3"):
        for s in surface_terms:
            spec.should.extend(TermClause(t) for t in toks(s))
    elif qtype == "or_minshould":
        for s in surface_terms:
            spec.should.extend(TermClause(t) for t in toks(s))
    elif qtype == "phrase2":
        analyzed = analyzer.analyze(" ".join(surface_terms))
        if analyzed:
            base = analyzed[0][1]
            spec.must.append(PhraseClause(
                tuple(t for t, _ in analyzed),
                tuple(p - base for _, p in analyzed),
                slop=slop,
            ))
    elif qtype == "and_not":
        pos, neg = surface_terms[0], surface_terms[1]
        spec.must.extend(TermClause(t) for t in toks(pos))
        spec.must_not.extend(TermClause(t) for t in toks(neg))
    else:
        raise ValueError(f"unknown qtype {qtype}")
    return spec


@dataclass
class CompiledClause:
    kind: str                 # 'term' | 'phrase'
    terms: tuple[str, ...]
    offsets: tuple[int, ...]  # phrase only
    weight: np.float32        # boost * idf (sum of idfs for phrase)
    occur: str                # 'must' | 'should'
    slop: int = 0             # phrase only; 0 = exact
    aux: float = 0.0          # similarity-specific clause stat
                              # (LMDirichlet: mu · collectionProbability)
    slots: tuple[tuple[str, ...], ...] = ()  # multiphrase only: per-offset
                              # alternative term sets (terms = flattened)
    member_weights: tuple = ()  # or_group only: per-member f32 weight
                              # aligned with terms (weight field unused)
    post: int = 0             # span_not: exclusion window after the include
                              # position (slop carries `pre`); span_first /
                              # position-range: window start position


@dataclass
class CompiledQuery:
    """Stats-bound executable query (the Weight-tree analog). Picklable;
    shipped to scoring kernels inside the UDF closure."""

    clauses: list[CompiledClause]
    must_not_terms: tuple[str, ...]
    min_should_match: int
    k: int
    cache: np.ndarray         # 256-float32 per-norm-byte multiplier
    n_must: int
    combine: str = "sum"      # 'sum' (BooleanQuery) | 'dismax' (DisjunctionMax)
    tie: float = 0.0
    # the scoring model (BM25Similarity, Lucene-8 default); every model runs
    # on the same norm bytes (Lucene 7+ stores the doc length for all)
    sim: Similarity = BM25
    # FILTER occur (BooleanClause.Occur.FILTER): non-scoring candidate
    # restriction, applied BEFORE top-k. Per-segment allowed-doc sets keyed
    # by segment base (the Spark shape of Lucene's per-leaf filter
    # DocIdSet/BitSet); None = no filter. Segments absent from the map
    # contribute nothing.
    filter_by_base: dict | None = None
    # CoveringQuery: 0 = off; else per-doc threshold = 1 + (docID mod this)
    covering_mod: int = 0

    @property
    def needs_positions(self) -> bool:
        return any(
            c.kind in ("phrase", "span_first", "span_near", "span_near_or",
                       "span_near_unordered",
                       "span_not", "span_containing", "span_within",
                       "interval_unordered", "interval_ordered",
                       "multiphrase")
            for c in self.clauses
        )

    @property
    def needs_exact(self) -> bool:
        """Clause kinds without a WAND block-bound implementation — the
        searcher routes these through the exact kernel. or_group rides WAND
        (member-folded interval bounds, parity-tested bitwise in
        tests/test_nested_bool.py); positional clauses need exact, and so
        does span_or (summed-tf-under-one-weight has no per-member block
        bound fold, though it needs no positions)."""
        return (
            self.needs_positions
            or self.covering_mod > 0  # per-doc msm has no WAND bound fold
            or any(c.kind in ("span_or", "synonym") for c in self.clauses)
        )

    @property
    def scoring_terms(self) -> list[str]:
        out: list[str] = []
        for c in self.clauses:
            out.extend(c.terms)
        return sorted(set(out))


def compile_query(
    spec: BooleanSpec,
    term_df: dict[str, int],
    doc_count: int,
    cache: np.ndarray,
    k: int,
    similarity: Similarity = BM25,
    term_ttf: dict[str, int] | None = None,
    sum_ttf: int = 0,
) -> CompiledQuery:
    """Bind global stats into weights (createWeight analog).

    Terms absent from the index (df=0) are dropped from SHOULD, and make the
    whole query match nothing when in MUST (Lucene conjunction semantics).
    Phrase weight = boost * Σ idf(term) (BM25Similarity#idfExplain over
    TermStatistics[]).
    """
    sim = similarity
    clauses: list[CompiledClause] = []
    impossible = False
    n_filter = 0

    def live(terms) -> tuple[str, ...]:
        return tuple(t for t in terms if term_df.get(t, 0) > 0)

    def all_live(terms) -> bool:
        return all(term_df.get(t, 0) > 0 for t in terms)

    def weight(boost: float, terms) -> np.float32:
        # boost · f32(Σ idf) over the terms' stats; models that bind no idf
        # (BooleanSimilarity, SimilarityBase) weigh the boost alone. One
        # term: f32(f32(idf)) == idf, so this is boost · idf bitwise.
        if sim.idf is None:
            return np.float32(boost)
        return np.float32(boost) * np.float32(
            sum(float(sim.idf(term_df[t], doc_count)) for t in terms)
        )

    for c in spec.filter:
        # FILTER occur: required, non-scoring — a weight-0 MUST clause (the
        # zero weight zeroes the clause score exactly in f32, and zeroes its
        # WAND block bound, so scores and pruning are untouched)
        if isinstance(c, OrGroupClause):
            # disjunctive FILTER — the TermsInSetQuery-under-FILTER shape
            # (query-time join: ``lucene/join`` JoinUtil#createJoinQuery with
            # ScoreMode.None rewrites the gathered from-values into exactly
            # this). Compiled as a weight-0 or_group MUST: the union of the
            # member posting lists gates matching, every member weight is 0
            # so the group contributes +0.0 to the f64 score sum (IEEE
            # no-op) and a 0 WAND block bound.
            sim.require("or_group filter")
            members = live(c.terms)
            if not members:
                impossible = True
                continue
            n_filter += 1
            clauses.append(CompiledClause(
                "or_group", members, (), np.float32(0.0), "must",
                member_weights=tuple(np.float32(0.0) for _ in members),
            ))
            continue
        if term_df.get(c.term, 0) == 0:
            impossible = True
            continue
        n_filter += 1
        # aux=1.0 (not 0.0): the LM scorer divides by aux — any positive
        # value is exact here because weight=0 zeroes the clause score and
        # bound, but aux=0 would poison the f64 sum with 0·inf = NaN
        clauses.append(
            CompiledClause("term", (c.term,), (), np.float32(0.0), "must", aux=1.0)
        )
    for occur, group in (("must", spec.must), ("should", spec.should)):
        for c in group:
            cc = None
            if isinstance(c, PhraseClause):
                sim.require("phrase")
                if all_live(c.terms):
                    cc = CompiledClause(
                        "phrase", c.terms, c.offsets, weight(c.boost, c.terms),
                        occur, slop=int(c.slop),
                    )
            elif isinstance(c, OrGroupClause):
                sim.require("or_group")
                members = live(c.terms)
                if members:
                    cc = CompiledClause(
                        "or_group", members, (), np.float32(0.0), occur,
                        member_weights=tuple(weight(c.boost, (t,)) for t in members),
                    )
            elif isinstance(c, BlendedTermClause):
                sim.require("blended")
                pairs = [
                    (t, b) for t, b in zip(c.terms, c.member_boosts)
                    if term_df.get(t, 0) > 0
                ]
                if pairs:
                    # blended statistics: every member scores with the MAX
                    # df across the expansion (TopTermsBlendedFreqScoringRewrite)
                    idf_b = sim.idf(max(term_df[t] for t, _ in pairs), doc_count)
                    cc = CompiledClause(
                        "or_group", tuple(t for t, _ in pairs), (),
                        np.float32(0.0), occur, member_weights=tuple(
                            np.float32(c.boost) * (np.float32(b) * idf_b)
                            for _, b in pairs
                        ),
                    )
            elif isinstance(c, MultiPhraseClause):
                sim.require("multiphrase")
                # a slot with NO live member term makes the phrase
                # unmatchable; dead members inside a live slot are dropped
                # and excluded from the idf sum (Lucene builds the SimWeight
                # from the terms the rewritten query retains)
                slots = tuple(live(slot) for slot in c.slots)
                if all(slots):
                    flat = tuple(t for slot in slots for t in slot)
                    cc = CompiledClause(
                        "multiphrase", flat, c.offsets, weight(c.boost, flat),
                        occur, slots=slots,
                    )
            elif isinstance(c, SpanNearOrClause):
                sim.require("span")
                # same liveness rule per operand as the multiphrase slots
                slots = tuple(live(slot) for slot in c.slots)
                if all(slots):
                    flat = tuple(t for slot in slots for t in slot)
                    cc = CompiledClause(
                        "span_near_or", flat, (), weight(c.boost, flat), occur,
                        slop=int(c.slop), slots=slots,
                    )
            elif isinstance(c, (SpanNearClause, SpanNearUnorderedClause)):
                sim.require("span")
                # SpanWeight#buildSimWeight over both terms' stats
                if all_live(c.terms):
                    cc = CompiledClause(
                        "span_near" if isinstance(c, SpanNearClause)
                        else "span_near_unordered",
                        c.terms, (), weight(c.boost, c.terms), occur,
                        slop=int(c.slop),
                    )
            elif isinstance(c, SynonymClause):
                sim.require("synonym")
                members = live(c.terms)
                if members:
                    # merged collection stats: docFreq = max over live members
                    # (SynonymWeight builds ONE TermStatistics with max df);
                    # the summed tf then scores through the ordinary SimScorer
                    top = max(members, key=term_df.__getitem__)
                    cc = CompiledClause(
                        "synonym", members, (), weight(c.boost, (top,)), occur,
                    )
            elif isinstance(c, SpanOrClause):
                sim.require("span")
                members = live(c.terms)
                if members:
                    # the live members' stats (dead members = +0.0)
                    cc = CompiledClause(
                        "span_or", members, (), weight(c.boost, members), occur,
                    )
            elif isinstance(c, IntervalUnorderedClause):
                sim.require("interval")
                if all_live(c.terms):
                    cc = CompiledClause(
                        "interval_ordered" if c.ordered else "interval_unordered",
                        c.terms, (), weight(c.boost, c.terms), occur,
                        slop=int(c.maxgaps),
                    )
            elif isinstance(c, SpanContainClause):
                sim.require("span")
                # SpanContainQuery's SimWeight collects termStates from
                # BOTH the big and little sides
                all_t = (*c.big, c.little)
                if all_live(all_t):
                    cc = CompiledClause(
                        "span_within" if c.mode == "within" else "span_containing",
                        all_t, (), weight(c.boost, all_t), occur,
                        slop=int(c.big_slop),
                    )
            elif isinstance(c, SpanNotClause):
                sim.require("span")
                # the exclude side gates matching only; a dead exclude term
                # leaves the include a plain TermQuery (SpanNot rewrite)
                if all_live((c.include,)):
                    cc = CompiledClause(
                        "span_not", (c.include, c.exclude), (),
                        weight(c.boost, (c.include,)), occur,
                        slop=int(c.pre), post=int(c.post),
                    )
            elif isinstance(c, SpanFirstClause):
                sim.require("span")
                # SpanWeight builds its SimWeight from the inner term's
                # stats: weight = boost * idf(term), same as TermQuery
                if all_live((c.term,)):
                    cc = CompiledClause(
                        "span_first", (c.term,), (), weight(c.boost, (c.term,)),
                        occur, slop=int(c.end), post=int(c.start),
                    )
            elif all_live((c.term,)):
                aux = 0.0 if sim.aux is None else sim.aux(
                    term_df[c.term], (term_ttf or {}).get(c.term, 0), doc_count, sum_ttf
                )
                cc = CompiledClause(
                    "term", (c.term,), (), weight(c.boost, (c.term,)), occur, aux=aux,
                )
            if cc is None:
                impossible |= occur == "must"
            else:
                clauses.append(cc)
    if impossible:
        clauses = []
    n_must = sum(1 for c in clauses if c.occur == "must")
    msm = spec.min_should_match
    if n_must - n_filter == 0 and msm < 1 and any(c.occur == "should" for c in clauses):
        # pure disjunction requires ≥1 should match; FILTER clauses don't
        # count as scoring MUSTs (Solr q+fq: the main query must still hit —
        # filter-only docs are not results)
        msm = 1
    return CompiledQuery(
        clauses=clauses,
        must_not_terms=tuple(sorted({c.term for c in spec.must_not})),
        min_should_match=msm,
        k=k,
        cache=cache,
        n_must=n_must,
        combine="dismax" if spec.dismax else "sum",
        tie=float(spec.tie),
        sim=sim,
        covering_mod=int(spec.covering_mod),
    )
