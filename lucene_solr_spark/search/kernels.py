"""Per-segment scoring kernels — exact (brute-force) and block-max WAND.

These run inside the per-segment scoring tasks (``search/segtask.py``)
over one segment's postings and norms: all math is numpy over decoded
posting blocks; no per-row Python. Each kernel returns the segment-local top-k by (score desc, docID
asc) — the global top-k is a union-then-TakeOrdered of per-segment top-k
(Solr's 2-phase PURPOSE_GET_TOP_IDS shape, SURVEY.md §3.2).

WAND here is an interval-sweep variant of block-max WAND (Ding & Suel 2011;
reference: ``L/search/WANDScorer`` + ``ImpactsDISI``): block boundaries of
all query terms partition the docID space into atomic intervals; each
interval's score upper bound is the sum of the covering blocks' impact
bounds (float32, monotone IEEE rounding ⇒ bound ≥ any true score in the
interval); intervals are visited in descending bound order and the sweep
stops when bound < θ (the current exact k-th (score, docID) threshold).
Every doc lives in exactly one interval, so results are EXACTLY the
brute-force results — pruning only skips intervals that provably cannot
contribute. Conjunctions additionally skip intervals where any MUST term
has no covering block (block-max conjunction, ``BlockMaxConjunctionScorer``).

The positional matchers verify positions for all candidate docs at once
over one int64 key per (candidate, position) pair (``_pos_keys``)::

    key = ci << 32 | (pos − off + 2³¹)

ci is the candidate's index in the clause's candidate doc list (< 2³¹),
pos an int32 position and off a phrase offset (0 for spans), shifted so
the phrase's smallest offset is 0. Every valid position and offset then
lands in the low 32 bits, so sorting keys sorts by (candidate, position)
and one global ``searchsorted`` / ``intersect1d`` works across all docs.
"""

from __future__ import annotations

import numpy as np

from ..index.codec import decode_block, decode_postings
from .query import CompiledClause, CompiledQuery


_POS_SHIFT = 32
_POS_BIAS = 1 << 31      # positions and offsets are int32
_POS_MASK = (1 << _POS_SHIFT) - 1


def _gather_ranges(arr: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate ``arr[starts[i] : starts[i]+lens[i]]`` for all i with no
    per-range Python loop (cumsum index trick). Requires lens >= 1."""
    n = int(lens.sum())
    step = np.ones(n, dtype=np.int64)
    step[0] = starts[0]
    if len(starts) > 1:
        heads = np.cumsum(lens[:-1])
        step[heads] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    return arr[np.cumsum(step)]


def _union_postings(
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Positional UNION of several terms' postings → one pseudo-term
    (docs, tfs, pos_flat) in the same shape ``decode_postings`` returns —
    the ``L/search/MultiPhraseQuery$UnionPostingsEnum`` analog, vectorized:
    concatenate all (doc, pos) pairs, lexsort, drop duplicates (a position
    holds one term, so dups only arise if the same term appears twice in a
    slot), then per-doc counts via ``np.unique``."""
    live = [p for p in parts if p[0].size]
    if not live:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    if len(live) == 1:
        return live[0]
    dk = np.concatenate([np.repeat(d, tf) for d, tf, _ in live])
    pp = np.concatenate([p.astype(np.int64) for _, _, p in live])
    order = np.lexsort((pp, dk))
    dk, pp = dk[order], pp[order]
    dup = np.zeros(len(dk), dtype=bool)
    dup[1:] = (dk[1:] == dk[:-1]) & (pp[1:] == pp[:-1])
    dk, pp = dk[~dup], pp[~dup]
    docs, tfs = np.unique(dk, return_counts=True)
    return docs, tfs.astype(np.int64), pp


def _sum_postings(parts: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """Doc-level MERGE of several terms' postings summing term freqs — the
    ``L/search/SynonymQuery`` FreqBoostTermScorer-over-DisiPriorityQueue
    analog, and SpanOrQuery's occurrence counter (each member occurrence is
    a distinct width-0 span: positions are unique per occurrence under the
    index chain, so no dedup is needed). ``parts``: decoded (docs, tfs, ...)
    tuples; docs = union, tf = Σ member tfs per doc as int64. No positions
    needed."""
    live = [(p[0], p[1]) for p in parts if p[0].size]
    if not live:
        e = np.empty(0, dtype=np.int64)
        return e, e
    if len(live) == 1:
        return live[0][0], live[0][1].astype(np.int64)
    alld = np.concatenate([d for d, _ in live])
    allt = np.concatenate([t for _, t in live]).astype(np.int64)
    docs, inv = np.unique(alld, return_inverse=True)
    tfs = np.zeros(len(docs), dtype=np.int64)
    np.add.at(tfs, inv, allt)
    return docs, tfs


def _candidates(per: list[tuple]) -> np.ndarray:
    """Two-phase candidates (``L/search/TwoPhaseIterator``): the docs that
    hold every operand, by sorted-array intersection, before any position
    is read."""
    cand = per[0][0]
    for parts in per[1:]:
        cand = cand[np.isin(cand, parts[0], assume_unique=True)]
    return cand


def _cand_positions(parts: tuple, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One operand's positions in every candidate doc: (ci, p), the
    candidate index and int64 position of each occurrence, candidate-major
    and position-sorted within a candidate. ``parts`` is decoded (docs,
    tfs, positions) holding every doc of ``cand``."""
    docs, tfs, pos = parts
    s = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=s[1:])
    i = np.searchsorted(docs, cand)
    starts, lens = s[i], s[i + 1] - s[i]
    ci = np.repeat(np.arange(len(cand), dtype=np.int64), lens)
    return ci, _gather_ranges(pos, starts, lens).astype(np.int64)


def _pos_keys(ci: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Packed keys (module docstring) for positions ``p`` in
    [−2³¹, 2³¹]: keys sort by (ci, p), and p = 2³¹ is the first key of the
    next candidate (SpanNot's clamped window relies on both ends)."""
    return (ci << _POS_SHIFT) + (p + _POS_BIAS)


def _nearest(
    ka: np.ndarray, ca: np.ndarray, kb: np.ndarray, side: str, slop: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each key of ``ka`` paired with the first key of ``kb`` at or after
    it (``side='left'``) or strictly after it (``'right'``) in the same
    candidate — the NearSpans step. Returns (match mask over ``ka``, index
    into ``kb``, width = gap − 1); a match needs width <= slop. ``kb`` is
    non-empty."""
    nxt = np.searchsorted(kb, ka, side=side)
    nc = np.minimum(nxt, kb.size - 1)
    width = (kb[nc] & _POS_MASK) - (ka & _POS_MASK) - 1
    m = (nxt < kb.size) & ((kb[nc] >> _POS_SHIFT) == ca) & (width <= slop)
    return m, nc, width


def _slop_factors(width: np.ndarray) -> np.ndarray:
    """``SloppySimScorer#computeSlopFactor`` f32 1/(1 + width) per match,
    widened to float64 for an exact per-doc sum."""
    return (
        np.float32(1.0) / (np.float32(1.0) + width.astype(np.float32))
    ).astype(np.float64)


def _phrase_freqs(per: list[tuple], offsets: tuple[int, ...]) -> tuple[np.ndarray, np.ndarray]:
    """Exact-phrase match: docs containing all terms at relative `offsets`.

    ``per`` holds each term's decoded (docs, tfs, positions). Positions are
    verified only on the candidate docs, all at once: each term's packed
    keys of (candidate, position − offset) are sorted and unique by
    construction, and the phrase windows are the running sorted-set
    intersection across terms (one ``np.intersect1d`` per term, not per
    doc). Offsets shift so the smallest is 0 — matches and freq do not
    change under a common shift — and a phrase spanning 2³¹ or more
    positions matches nothing. Per-candidate phrase freq = bincount of the
    surviving keys' candidate index. Returns (docs, phrase_freq) with
    freq >= 1.
    """
    empty = np.empty(0, dtype=np.int64)
    cand = _candidates(per)
    offsets = [o - min(offsets) for o in offsets]
    if cand.size == 0 or max(offsets) >= _POS_BIAS:
        return empty, empty
    acc: np.ndarray | None = None
    for parts, off in zip(per, offsets):
        ci, p = _cand_positions(parts, cand)
        keys = _pos_keys(ci, p - off)
        acc = keys if acc is None else np.intersect1d(acc, keys, assume_unique=True)
        if acc.size == 0:
            return empty, empty
    freqs = np.bincount(acc >> _POS_SHIFT, minlength=len(cand))
    keep = freqs > 0
    return cand[keep], freqs[keep].astype(np.int64)


def _sloppy_freq_one_doc(pos_lists: list[np.ndarray], slop: int) -> np.float32:
    """Lucene's sloppy-phrase matcher over ONE doc's offset-adjusted,
    sorted position lists (``L/search/SloppyPhraseMatcher`` / the classic
    SloppyPhraseScorer#phraseFreq loop, no-repeats case): a min-heap of
    per-term iterators keyed by (adjusted position, phrase offset); pop the
    smallest, advance it, and each time the popped iterator overtakes the
    heap top, the just-minimized matchLength = end − popped.position is a
    candidate match; freq += 1/(matchLength+1) when matchLength ≤ slop
    (float32 accumulation, PhraseScorer order)."""
    import heapq

    n = len(pos_lists)
    if n == 1:  # degenerate 1-term phrase: every position matches at length 0
        return np.float32(len(pos_lists[0]))
    ptr = [0] * n
    end = -1
    heap = []
    for t, pl in enumerate(pos_lists):
        p = int(pl[0])
        heap.append((p, t))
        if p > end:
            end = p
    heapq.heapify(heap)
    freq = np.float32(0.0)
    p, t = heapq.heappop(heap)
    match_length = end - p
    nxt = heap[0][0]
    while True:
        ptr[t] += 1
        if ptr[t] >= len(pos_lists[t]):
            break
        p = int(pos_lists[t][ptr[t]])
        if p > end:
            end = p
        if p > nxt:
            if match_length <= slop:
                freq = np.float32(freq + np.float32(1.0 / (match_length + 1)))
            heapq.heappush(heap, (p, t))
            p, t = heapq.heappop(heap)
            nxt = heap[0][0]
            match_length = end - p
        else:
            ml2 = end - p
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq = np.float32(freq + np.float32(1.0 / (match_length + 1)))
    return freq


def _sloppy_freqs_2term_vec(
    per: list[tuple], offsets: tuple[int, ...], cand: np.ndarray, slop: int,
) -> np.ndarray:
    """Vectorized 2-iterator sloppy-phrase verify over ALL candidate docs at
    once — bitwise-identical to ``_sloppy_freq_one_doc`` (property-tested in
    tests/test_sloppy_phrase.py). The 2-iterator heap walk degenerates to a
    closed form: emissions are exactly the cross-list ADJACENT pairs of the
    merged (offset-adjusted) position sequence, ml = position gap, freq +=
    f32(1/(ml+1)) in merged order. Ties across lists (exact phrase hits,
    ml=0) order history-dependently: within a run of consecutive tied pairs
    the leading list alternates, starting from the owner of the nearest
    preceding un-tied element (list 0 at candidate start) — because the
    running iterator advances through ``p == nxt`` inclusively, absorbing
    the tied element into its run. Returns float32 freqs aligned to
    ``cand`` (0 where no window ≤ slop)."""
    ci_parts, p_parts, t_parts = [], [], []
    for t in (0, 1):
        ci, p = _cand_positions(per[t], cand)
        ci_parts.append(ci)
        p_parts.append(p - offsets[t])
        t_parts.append(np.full(p.size, t, dtype=np.int8))
    ci = np.concatenate(ci_parts)
    p = np.concatenate(p_parts)
    tt = np.concatenate(t_parts)
    order = np.lexsort((tt, p, ci))
    ci, p, tt = ci[order], p[order], tt[order]
    n = len(ci)
    idx = np.arange(n, dtype=np.int64)
    same_cand = np.zeros(n, dtype=bool)
    same_cand[1:] = ci[1:] == ci[:-1]
    # tied cross-list pairs appear as (list0, list1) after the (p, t) sort;
    # within-list positions are unique, so ties are exactly pairs
    pair_start = np.zeros(n, dtype=bool)
    pair_start[:-1] = same_cand[1:] & (p[1:] == p[:-1])
    in_pair = pair_start.copy()
    in_pair[1:] |= pair_start[:-1]
    solo = ~in_pair
    # nearest preceding solo element / candidate start (segment-scan resets)
    cand_first = np.maximum.accumulate(np.where(~same_cand, idx, -1))
    last_solo = np.maximum.accumulate(np.where(solo, idx, np.int64(-1)))
    reset = np.maximum(last_solo, cand_first)
    prev_owner = np.where(
        last_solo >= cand_first, tt[np.maximum(last_solo, 0)], np.int8(0)
    ).astype(np.int64)
    # tie-pair ordinal since the reset point → leading list alternates.
    # cum_excl[i] = pairs with index < i; pairs in [reset, i) participate in
    # the alternation (a candidate-start tie pair counts itself as pair 0)
    cum_excl = np.cumsum(pair_start) - pair_start
    n_between = np.where(pair_start, cum_excl - cum_excl[np.maximum(reset, 0)], 0)
    swap = pair_start & (((prev_owner + n_between) & 1) == 1)
    if swap.any():
        # swapping a tied pair's order == swapping the two t tags (same p, ci)
        tt = tt.copy()
        si = idx[swap]
        tt[si], tt[si + 1] = tt[si + 1], tt[si]
    cross = np.zeros(max(n - 1, 0), dtype=bool)
    if n > 1:
        cross = (ci[1:] == ci[:-1]) & (tt[1:] != tt[:-1])
    ml = p[1:] - p[:-1] if n > 1 else np.zeros(0, dtype=np.int64)
    sel = cross & (ml <= slop)
    freqs = np.zeros(len(cand), dtype=np.float32)
    # np.add.at applies additions sequentially in index order — the same
    # per-emission float32 rounding/order as the heap walk
    np.add.at(freqs, ci[1:][sel], (1.0 / (ml[sel] + 1.0)).astype(np.float32))
    return freqs


def _span_near_freqs_2term(
    parts0: tuple,
    parts1: tuple,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """NearSpansOrdered over two unit-length term spans
    (``L/search/spans/NearSpansOrdered``): one candidate span per start —
    each occurrence p0 of the first term pairs with the nearest following
    occurrence p1 of the second; width = p1 − p0 − 1; matches (width <=
    slop) contribute 1/(1+width) (``SloppySimScorer#computeSlopFactor``).

    Vectorized over ALL candidate docs at once: over packed keys one global
    ``searchsorted`` finds every p0's next p1 (``_nearest``). f32 slop
    factors accumulate in float64 (``np.add.at``), one f32 cast. Returns
    (docs, float32 span freqs)."""
    cand = _candidates([parts0, parts1])
    empty = np.empty(0, dtype=np.float32)
    if cand.size == 0:
        return cand, empty
    ci0, p0 = _cand_positions(parts0, cand)
    k0 = _pos_keys(ci0, p0)
    k1 = _pos_keys(*_cand_positions(parts1, cand))
    m, _, width = _nearest(k0, ci0, k1, "right", slop)
    if not m.any():
        return np.empty(0, dtype=np.int64), empty
    freq = np.zeros(len(cand), dtype=np.float64)
    np.add.at(freq, ci0[m], _slop_factors(width[m]))
    keep = freq > 0
    return cand[keep], freq[keep].astype(np.float32)


def _span_near_unordered_freqs_2term(
    parts0: tuple,
    parts1: tuple,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """NearSpansUnordered over two unit-length term spans
    (``L/search/spans/NearSpansUnordered``): spans are consumed in start
    order (the DisiPriorityQueue discipline, two-element case); at each
    step the min-start span pairs with the other operand's current head —
    equivalently, each occurrence a of term0 pairs with the first b ≥ a of
    term1 and each b with the first a > b (ties consume term0 first).
    Match when width = |gap| − 1 ≤ slop; each match contributes
    1/(1 + max(0, width)) (``SloppySimScorer#computeSlopFactor``; width
    −1 = same-position overlap clamps to factor 1).

    Same packed-key vectorization as the ordered kernel: one global
    ``searchsorted`` per direction, f32 slop factors summed in float64
    (exact — f32 values are exact in f64 and the magnitudes stay far below
    the 53-bit mantissa), one final f32 cast. Returns (docs, span freqs)."""
    cand = _candidates([parts0, parts1])
    empty = np.empty(0, dtype=np.float32)
    if cand.size == 0:
        return cand, empty
    ci0, p0 = _cand_positions(parts0, cand)
    ci1, p1 = _cand_positions(parts1, cand)
    k0, k1 = _pos_keys(ci0, p0), _pos_keys(ci1, p1)
    freq = np.zeros(len(cand), dtype=np.float64)
    # 'left' = first partner ≥ (term0 side), 'right' = first partner
    # strictly > (term1 side — equal positions were consumed by the term0
    # step already)
    for ka, ca, kb, side in ((k0, ci0, k1, "left"), (k1, ci1, k0, "right")):
        m, _, width = _nearest(ka, ca, kb, side, slop)
        np.add.at(freq, ca[m], _slop_factors(np.maximum(width[m], 0)))
    keep = freq > 0
    if not keep.any():
        return np.empty(0, dtype=np.int64), empty
    return cand[keep], freq[keep].astype(np.float32)


def _interval_pairs(
    pos: np.ndarray, f: np.ndarray, same: np.ndarray, maxgaps: int, ordered: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """The minimal two-term intervals of merged position streams: returns
    (mask over adjacent stream pairs, slop factor of each masked pair).

    ``pos``/``f`` are positions and source flags (0 = terms[0]) sorted by
    position; ``same`` marks adjacent pairs of one doc. A minimal interval
    is an adjacent opposite-source pair of the stream:
    - ordered (``OrderedIntervalsSource``): the second source must start
      past the first's end, so the caller sorts a position's second-source
      entry before its first-source one and a stacked pair (both sources
      at one position) is never ``0 → 1``; gaps are then >= 0;
    - unordered (``UnorderedIntervalsSource``): a stacked pair is the
      zero-width interval [p, p] (gaps 0, factor 1), and a pair that
      reaches a stacked position contains it, so it is not minimal.
    A match needs gaps = end − start − 1 <= maxgaps and adds f32
    1/(1 + gaps), summed by the caller in float64."""
    gaps = pos[1:] - pos[:-1] - 1
    if ordered:
        pair_ok = same & (f[:-1] == 0) & (f[1:] == 1)
    else:
        pair_ok = same & (f[1:] != f[:-1])
        stacked = pair_ok & (gaps < 0)
        reaches = np.zeros_like(stacked)
        reaches[1:] |= stacked[:-1]
        reaches[:-1] |= stacked[1:]
        pair_ok &= stacked | ~reaches
        gaps = np.maximum(gaps, 0)
    m = pair_ok & (gaps <= maxgaps)
    return m, _slop_factors(gaps[m])


def _interval_unordered_freqs(
    parts0: tuple, parts1: tuple, maxgaps: int, ordered: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Two-term interval matcher (``lucene/queries/.../intervals/
    Intervals.java#unordered`` / ``#ordered`` + ``#maxgaps``): the MINIMAL
    intervals containing both terms (``_interval_pairs``). Each match
    contributes 1/(1 + gaps) to the doc freq (the span family's
    slop-factor shape), f32 factors summed in float64, one f32 cast.

    Vectorized over all candidate docs with packed keys: one concatenate +
    stable argsort merges every doc's streams at once (the second source
    first when ordered, so it sorts first at a shared position); the
    adjacency test is one shifted compare."""
    cand = _candidates([parts0, parts1])
    empty = np.empty(0, dtype=np.float32)
    if cand.size == 0:
        return cand, empty
    sources = ((1, parts1), (0, parts0)) if ordered else ((0, parts0), (1, parts1))
    keys, flags = [], []
    for fl, parts in sources:
        ci, p = _cand_positions(parts, cand)
        keys.append(_pos_keys(ci, p))
        flags.append(np.full(p.size, fl, dtype=np.int8))
    k = np.concatenate(keys)
    f = np.concatenate(flags)
    order = np.argsort(k, kind="stable")
    k, f = k[order], f[order]
    same_doc = (k[1:] >> _POS_SHIFT) == (k[:-1] >> _POS_SHIFT)
    m, sf = _interval_pairs(k & _POS_MASK, f, same_doc, maxgaps, ordered)
    if not m.any():
        return np.empty(0, dtype=np.int64), empty
    freq = np.zeros(len(cand), dtype=np.float64)
    np.add.at(freq, (k[:-1][m] >> _POS_SHIFT), sf)
    keep = freq > 0
    return cand[keep], freq[keep].astype(np.float32)


def _span_contain_freqs(
    parts0: tuple, parts1: tuple, big_slop: int, parts_l: tuple, mode: str,
) -> tuple[np.ndarray, np.ndarray]:
    """SpanContainingQuery / SpanWithinQuery matcher (``L/search/spans/
    SpanContainingQuery``, ``SpanWithinQuery`` — both extend
    ``SpanContainQuery``). ``big`` = ordered two-term SpanNear (one
    candidate span per start position: nearest following second-term
    occurrence; width = gap <= ``big_slop``); ``little`` = a unit term
    span. Containment follows ``ContainSpans``: big.start <= little.start
    and little.end <= big.end — for a unit little at q and a big span
    [p0, p1+1) that is p0 <= q <= p1.

    mode='within' (SpanWithinQuery): result spans are the little
    occurrences enclosed by SOME matched big span — width-0 spans, slop
    factor 1 each, so tf = surviving occurrence count (int64).
    mode='containing' (SpanContainingQuery): result spans are the matched
    big spans enclosing SOME little occurrence — each contributes
    ``SloppySimScorer#computeSlopFactor`` 1/(1+width(big)) like SpanNear
    (f32 factors summed in float64, one f32 cast).

    Vectorized with packed keys over ALL candidate docs: the big spans
    come from the ordered SpanNear step (``_nearest``); within a doc the
    minimal ordered big spans have NON-DECREASING ends as starts increase
    (nearest-following is monotone), so the predecessor matched span by
    start carries the maximal end — one ``searchsorted`` per little
    occurrence decides enclosure; one lo/hi pair per big span counts
    enclosed littles."""
    cand = _candidates([parts0, parts1, parts_l])
    if cand.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    ci0, p0 = _cand_positions(parts0, cand)
    cil, pl = _cand_positions(parts_l, cand)
    k0, kl = _pos_keys(ci0, p0), _pos_keys(cil, pl)
    k1 = _pos_keys(*_cand_positions(parts1, cand))
    m, nc, width = _nearest(k0, ci0, k1, "right", big_slop)
    if not m.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    ks, ke, wi, cis = k0[m], k1[nc[m]], width[m], ci0[m]
    freq = np.zeros(len(cand), dtype=np.float64)
    if mode == "within":
        idx = np.searchsorted(ks, kl, side="right") - 1
        idc = np.maximum(idx, 0)
        ok = (idx >= 0) & (cis[idc] == cil) & (kl <= ke[idc])
        np.add.at(freq, cil[ok], 1.0)
        keep = freq > 0
        return cand[keep], freq[keep].astype(np.int64)
    lo = np.searchsorted(kl, ks, side="left")
    hi = np.searchsorted(kl, ke, side="right")
    ok = lo < hi
    np.add.at(freq, cis[ok], _slop_factors(wi[ok]))
    keep = freq > 0
    return cand[keep], freq[keep].astype(np.float32)


def _span_not_freqs(
    parts_inc: tuple,
    parts_exc: tuple,
    pre: int,
    post: int,
) -> tuple[np.ndarray, np.ndarray]:
    """SpanNotQuery matcher (``L/search/spans/SpanNotQuery``): include
    occurrences survive unless some exclude occurrence q lies in
    [p − pre, p + post]. Docs with no exclude postings pass through
    untouched (SpanNot rewrites to the include span there).

    Vectorized: packed keys over both lists, with the include docs as the
    candidate index; for each include position one ``searchsorted`` finds
    the first exclude key >= p − pre; the occurrence is removed iff that
    key is <= p + post. Every position lies in [0, 2³¹), so clamping the
    window's low end to [0, 2³¹] and its high end to [−1, 2³¹ − 1] is
    exact for any ``pre``/``post``; a window outside the position range
    stays empty. Surviving tf per doc = one bincount. Returns (docs, int64
    tfs)."""
    docs_i, tfs_i, pos_i = parts_inc
    with_exc = np.flatnonzero(np.isin(docs_i, parts_exc[0], assume_unique=True))
    if with_exc.size == 0:
        # no exclude postings in any include doc: SpanNot rewrites to the
        # include span
        return docs_i, tfs_i.astype(np.int64)
    ci_e, pe = _cand_positions(parts_exc, docs_i[with_exc])
    ke = _pos_keys(with_exc[ci_e], pe)
    di_i = np.repeat(np.arange(len(docs_i), dtype=np.int64), tfs_i)
    pi = pos_i.astype(np.int64)
    # clamp the user ints first so p ∓ pre/post stays in int64
    pre, post = (min(max(w, -_POS_BIAS), _POS_BIAS) for w in (pre, post))
    k_lo = _pos_keys(di_i, np.clip(pi - pre, 0, _POS_BIAS))
    k_hi = _pos_keys(di_i, np.clip(pi + post, -1, _POS_BIAS - 1))
    lo = np.searchsorted(ke, k_lo, side="left")
    removed = (lo < ke.size) & (ke[np.minimum(lo, ke.size - 1)] <= k_hi)
    cnt = np.bincount(di_i[~removed], minlength=len(docs_i))
    keep = cnt > 0
    return docs_i[keep], cnt[keep].astype(np.int64)


def _sloppy_phrase_freqs(
    per: list[tuple], offsets: tuple[int, ...], slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Sloppy-phrase match: docs containing all terms with ≥1 window within
    ``slop``. Returns (docs, float32 sloppy freq) with freq > 0. Same
    two-phase shape as ``_phrase_freqs``; only the position verify differs
    (ordered heap walk instead of offset intersection). The common 2-term
    case runs fully vectorized (``_sloppy_freqs_2term_vec``); n>2 phrases
    run the heap walk per candidate doc."""
    cand = _candidates(per)
    if cand.size == 0:
        return cand, np.empty(0, dtype=np.float32)
    if len(per) == 2:
        freqs = _sloppy_freqs_2term_vec(per, offsets, cand, slop)
    else:
        per_term = []
        for parts, off in zip(per, offsets):
            ci, p = _cand_positions(parts, cand)
            per_term.append(np.split(p - off, np.flatnonzero(np.diff(ci)) + 1))
        freqs = np.array(
            [_sloppy_freq_one_doc(list(pls), slop) for pls in zip(*per_term)],
            dtype=np.float32,
        )
    keep = freqs > 0
    return cand[keep], freqs[keep]


def _combine(
    clause_docs: list[np.ndarray],
    clause_scores: list[np.ndarray],
    occurs: list[str],
    n_must: int,
    msm: int,
    excl_docs: np.ndarray | None,
    combine: str = "sum",
    tie: float = 0.0,
    incl_docs: np.ndarray | None = None,
    covering: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Boolean combine: MUST intersect, SHOULD sum, minShouldMatch, MUST_NOT.

    Float discipline: per-doc Σ in float64 over float32 clause scores, in
    clause order, single float32 cast (Disjunction/ConjunctionScorer).
    combine='dismax': score = max + tie·(Σ − max) in float64, one f32 cast
    (``DisjunctionMaxScorer#score``).
    """
    if not clause_docs:
        e = np.empty(0, dtype=np.int64)
        return e, np.empty(0, dtype=np.float32)
    all_docs = np.concatenate(clause_docs)
    all_scores = np.concatenate(clause_scores).astype(np.float64)
    is_must = np.concatenate([
        np.full(len(d), occ == "must") for d, occ in zip(clause_docs, occurs)
    ])
    udocs, inv = np.unique(all_docs, return_inverse=True)
    sums = np.zeros(len(udocs), dtype=np.float64)
    np.add.at(sums, inv, all_scores)
    if combine == "dismax":
        maxs = np.full(len(udocs), -np.inf, dtype=np.float64)
        np.maximum.at(maxs, inv, all_scores)
        scores = maxs + np.float64(tie) * (sums - maxs)
    else:
        scores = sums
    must_cnt = np.bincount(inv, weights=is_must, minlength=len(udocs))
    should_cnt = np.bincount(inv, weights=~is_must, minlength=len(udocs))
    keep = must_cnt == n_must
    if msm > 0:
        keep &= should_cnt >= msm
    if covering is not None:
        # CoveringQuery (L/search/CoveringQuery): the per-doc minimum
        # matched count comes from a LongValuesSource — here the dense
        # doc-key-rank docvalue (global docID = base + local)
        base, mod = covering
        keep &= should_cnt >= 1 + ((base + udocs) % mod)
    if excl_docs is not None and excl_docs.size:
        keep &= ~np.isin(udocs, excl_docs, assume_unique=True)
    if incl_docs is not None:  # FILTER occur: non-scoring candidate restriction
        keep &= np.isin(udocs, incl_docs, assume_unique=True)
    return udocs[keep], scores[keep].astype(np.float32)


def _merge_excl(excl: np.ndarray | None, deleted: np.ndarray | None) -> np.ndarray | None:
    """Union the MUST_NOT exclusion set with the segment's tombstoned
    local ids (``L/index/PendingDeletes`` live-docs analog: deleted docs are
    invisible to search while stats stay as-committed until refresh)."""
    if deleted is None or deleted.size == 0:
        return excl
    if excl is None or excl.size == 0:
        return deleted
    return np.union1d(excl, deleted)


def _apply_after(
    docs: np.ndarray, scores: np.ndarray, after: tuple | None
) -> tuple[np.ndarray, np.ndarray]:
    """searchAfter cursor (``IndexSearcher#searchAfter``): keep only hits
    strictly after (score, doc) in (score desc, doc asc) order. The doc
    component is SEGMENT-LOCAL (caller rebases the global cursor)."""
    if after is None or docs.size == 0:
        return docs, scores
    s, d = np.float32(after[0]), np.int64(after[1])
    keep = (scores < s) | ((scores == s) & (docs > d))
    return docs[keep], scores[keep]


def _topk(docs: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(score desc, docID asc) — HitQueue#lessThan tiebreak."""
    if len(docs) <= k:
        order = np.lexsort((docs, -scores.astype(np.float64)))
        return docs[order], scores[order]
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order], scores[order]


def _norm_lookup(norms_arr: np.ndarray, base: int, docs: np.ndarray) -> np.ndarray:
    return norms_arr[docs - base]


def _clause_postings(c: CompiledClause, dec) -> tuple[np.ndarray, np.ndarray]:
    """One clause's matching (docs, freqs) — the per-clause-kind matcher the
    exact and counting kernels share. ``dec(term)`` returns the term's
    decoded (docs, tfs, positions). Freqs are the int tf or float32 span
    freq the similarity scores; an or_group's docs are its member union
    (its freqs are unused: members score separately, ``_or_group_scores``)."""
    if c.kind == "term":
        return dec(c.terms[0])[:2]
    if c.kind == "span_first":
        # SpanFirstQuery (L/search/spans/SpanFirstQuery): tf = count of
        # occurrences inside the position range [c.post, c.slop) — a term
        # span at p ends at p+1 → positions p < end; SpanFirstQuery is the
        # start=0 case of SpanPositionRangeQuery. Vectorized over the whole
        # posting list: doc index per flat position via repeat, window
        # counts via one bincount of the masked indices.
        docs, tfs, pos = dec(c.terms[0])
        if docs.size == 0:
            return docs, tfs
        di = np.repeat(np.arange(docs.size, dtype=np.int64), tfs)
        cnt = np.bincount(di[(pos >= c.post) & (pos < c.slop)], minlength=docs.size)
        keep = cnt > 0
        return docs[keep], cnt[keep]
    if c.kind in ("synonym", "or_group"):
        # SynonymQuery: merged postings, summed tf, one score under the
        # clause's max-df weight
        return _sum_postings([dec(t) for t in c.terms])
    if c.kind == "span_near":
        return _span_near_freqs_2term(dec(c.terms[0]), dec(c.terms[1]), c.slop)
    if c.kind == "span_near_unordered":
        return _span_near_unordered_freqs_2term(
            dec(c.terms[0]), dec(c.terms[1]), c.slop
        )
    if c.kind == "span_near_or":
        # nested spans: each operand's occurrence stream is the positional
        # union of its member terms, then the flat ordered matcher runs
        # unchanged over the pseudo-terms
        return _span_near_freqs_2term(
            _union_postings([dec(t) for t in c.slots[0]]),
            _union_postings([dec(t) for t in c.slots[1]]),
            c.slop,
        )
    if c.kind == "span_not":
        return _span_not_freqs(dec(c.terms[0]), dec(c.terms[1]), c.slop, c.post)
    if c.kind in ("interval_unordered", "interval_ordered"):
        return _interval_unordered_freqs(
            dec(c.terms[0]), dec(c.terms[1]), c.slop,
            ordered=c.kind == "interval_ordered",
        )
    if c.kind in ("span_containing", "span_within"):
        # terms = (big0, big1, little); slop = the big SpanNear's slop
        return _span_contain_freqs(
            dec(c.terms[0]), dec(c.terms[1]), c.slop, dec(c.terms[2]),
            "within" if c.kind == "span_within" else "containing",
        )
    if c.kind == "span_or":
        # SpanOrQuery (L/search/spans/SpanOrQuery): every member occurrence
        # is a width-0 span (slop factor 1), positions are unique per
        # occurrence, so tf = Σ member tfs per doc — no position decode
        return _sum_postings([dec(t) for t in c.terms])
    if c.kind == "multiphrase":
        # each slot's member postings union into one pseudo-term, then the
        # exact-phrase intersect runs unchanged over the unions
        per = [_union_postings([dec(t) for t in slot]) for slot in c.slots]
    else:
        per = [dec(t) for t in c.terms]
    if c.slop == 0:
        return _phrase_freqs(per, c.offsets)
    return _sloppy_phrase_freqs(per, c.offsets, c.slop)


def _or_group_scores(
    c: CompiledClause, dec, norms_arr: np.ndarray, base: int, q: CompiledQuery
) -> tuple[np.ndarray, np.ndarray]:
    """Nested disjunction as one clause (DisjunctionSumScorer subtree):
    per-member f32 term scores, per-doc Σ in float64 in member order, one
    f32 cast for the group score."""
    d_parts, s_parts = [], []
    for t, w in zip(c.terms, c.member_weights):
        md, mtf = dec(t)[:2]
        if md.size == 0:
            continue
        d_parts.append(md)
        s_parts.append(q.sim.score(
            mtf, _norm_lookup(norms_arr, base, md), w, q.cache, 0.0,
        ).astype(np.float64))
    if not d_parts:
        e = np.empty(0, dtype=np.int64)
        return e, np.empty(0, dtype=np.float32)
    docs, inv = np.unique(np.concatenate(d_parts), return_inverse=True)
    gsum = np.zeros(len(docs), dtype=np.float64)
    np.add.at(gsum, inv, np.concatenate(s_parts))
    return docs, gsum.astype(np.float32)


def score_segment_exact(
    term_blocks: dict[str, list],
    norms_arr: np.ndarray,
    base: int,
    q: CompiledQuery,
    after: tuple | None = None,
    incl: np.ndarray | None = None,
    decode_cache: dict | None = None,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Brute force: decode and score every posting of every clause.

    ``decode_cache`` (optional, shared across queries in a batch): decoded
    postings keyed by (term, with_positions) — queries sharing terms decode
    each posting list once per segment instead of once per query."""
    decoded = decode_cache if decode_cache is not None else {}
    need_pos = q.needs_positions

    def dec(term):
        # namespaced: the shared cache also holds WAND's ("blk", term, i)
        key = ("post", term, need_pos)
        if key not in decoded:
            blocks = term_blocks.get(term, [])
            decoded[key] = decode_postings(blocks, with_positions=need_pos)
        return decoded[key]

    clause_docs, clause_scores, occurs = [], [], []
    for c in q.clauses:
        if c.kind == "or_group":
            docs, scores = _or_group_scores(c, dec, norms_arr, base, q)
        else:
            docs, tfs = _clause_postings(c, dec)
            scores = q.sim.score(
                tfs, _norm_lookup(norms_arr, base, docs), c.weight, q.cache, c.aux,
            )
        if docs.size == 0:
            if c.occur == "must":
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
            continue
        clause_docs.append(docs)
        clause_scores.append(scores)
        occurs.append(c.occur)
    excl = None
    if q.must_not_terms:
        excl = np.unique(np.concatenate([
            dec(t)[0] for t in q.must_not_terms
        ])) if any(term_blocks.get(t) for t in q.must_not_terms) else None
    excl = _merge_excl(excl, deleted)
    docs, scores = _combine(
        clause_docs, clause_scores, occurs, q.n_must, q.min_should_match, excl,
        q.combine, q.tie, incl,
        covering=(base, q.covering_mod) if q.covering_mod else None,
    )
    docs, scores = _apply_after(docs, scores, after)
    return _topk(docs, scores, q.k)


def count_segment_matches(
    term_blocks: dict[str, list],
    q: CompiledQuery,
    incl: np.ndarray | None = None,
    deleted: np.ndarray | None = None,
) -> int:
    """Doc-level match COUNT for one segment — the ``TotalHitCountCollector``
    analog: no scoring, no norms, no top-k; just the boolean/phrase document
    predicate. Decodes doc ids (and positions only for phrase clauses) and
    applies the same MUST/SHOULD/minShouldMatch/MUST_NOT/FILTER semantics as
    the scoring kernels via ``_combine`` with zero scores."""
    decoded: dict = {}
    need_pos = q.needs_positions
    if q.covering_mod:
        # the count path has no per-doc threshold fold — refuse loudly
        # rather than overcount (CoveringQuery rides the scoring kernel)
        raise NotImplementedError(
            "TotalHits count for CoveringQuery is not implemented; use the "
            "scoring kernel (score_segment_exact applies the per-doc gate)"
        )

    def dec(term):
        if term not in decoded:
            decoded[term] = decode_postings(term_blocks.get(term, []), with_positions=need_pos)
        return decoded[term]

    clause_docs, occurs = [], []
    for c in q.clauses:
        docs = _clause_postings(c, dec)[0]
        if docs.size == 0:
            if c.occur == "must":
                return 0
            continue
        clause_docs.append(docs)
        occurs.append(c.occur)
    excl = None
    if q.must_not_terms and any(term_blocks.get(t) for t in q.must_not_terms):
        excl = np.unique(np.concatenate([dec(t)[0] for t in q.must_not_terms]))
    excl = _merge_excl(excl, deleted)
    docs, _ = _combine(
        clause_docs, [np.zeros(len(d), dtype=np.float32) for d in clause_docs],
        occurs, q.n_must, q.min_should_match, excl, "sum", 0.0, incl,
    )
    return int(docs.size)


def score_segment_wand(
    term_blocks: dict[str, list],
    norms_arr: np.ndarray,
    base: int,
    q: CompiledQuery,
    after: tuple | None = None,
    incl: np.ndarray | None = None,
    decode_cache: dict | None = None,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Interval-sweep block-max WAND (term and or_group clauses; positional
    queries take the exact path). Rank-identical to score_segment_exact by
    construction — or_group bounds fold member block maxima per interval
    with a one-ulp pad for the group's early f32 cast.

    ``decode_cache`` (optional, shared across a query batch): raw block
    decodes keyed by (term, block_idx) — scores stay per-clause (weight-
    dependent), but the varint decode, the expensive part, is done once per
    block per segment for the whole batch."""
    # member-level flattening: a term clause is one member; an or_group
    # contributes one member per live term (coverage/bounds computed per
    # member, folded per clause — group bound = Σ member block bounds,
    # padded one f32 ulp because the group score takes an EARLY f32 cast
    # before the cross-clause sum)
    members: list[tuple[int, str, np.float32, float]] = []
    for ci, c in enumerate(q.clauses):
        if c.kind == "or_group":
            for t, w in zip(c.terms, c.member_weights):
                members.append((ci, t, w, 0.0))
        else:
            members.append((ci, c.terms[0], c.weight, c.aux))
    n_cl = len(q.clauses)
    n_mem = len(members)
    occurs = [c.occur for c in q.clauses]
    is_group = [c.kind == "or_group" for c in q.clauses]
    clause_members: list[list[int]] = [[] for _ in range(n_cl)]
    for mi, (ci, _, _, _) in enumerate(members):
        clause_members[ci].append(mi)
    member_terms = [t for (_, t, _, _) in members]
    blocks_per_member = [term_blocks.get(t, []) for t in member_terms]
    clause_covered = [
        any(blocks_per_member[mi] for mi in clause_members[ci])
        for ci in range(n_cl)
    ]
    if q.n_must > 0 and any(
        not clause_covered[ci] for ci in range(n_cl) if occurs[ci] == "must"
    ):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    if not any(clause_covered):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)

    # --- build atomic intervals from block boundaries ---
    firsts = [np.array([b["first_doc"] for b in bl], dtype=np.int64)
              for bl in blocks_per_member]
    lasts = [np.array([b["last_doc"] for b in bl], dtype=np.int64)
             for bl in blocks_per_member]
    pts = np.unique(np.concatenate(
        [f for f in firsts if f.size] + [l + 1 for l in lasts if l.size]
    ))
    lo = pts[:-1]  # interval i = [lo[i], hi[i]] inclusive
    hi = pts[1:] - 1
    n_int = len(lo)

    # per member: which block (if any) covers each interval
    cover = np.full((n_mem, n_int), -1, dtype=np.int64)
    mbounds = np.zeros((n_mem, n_int), dtype=np.float64)
    for mi, bl in enumerate(blocks_per_member):
        if not bl:
            continue
        f, l = firsts[mi], lasts[mi]
        idx = np.searchsorted(f, lo, side="right") - 1
        ok = (idx >= 0) & (lo <= np.where(idx >= 0, l[np.maximum(idx, 0)], -1))
        cover[mi, ok] = idx[ok]
        if ok.any():
            _, _, w_m, aux_m = members[mi]
            bmax = np.array([
                float(q.sim.bound(
                    int(b["max_tf"]), int(b["min_norm"]), w_m, q.cache, aux_m,
                )) for b in bl
            ])
            mbounds[mi, ok] = bmax[idx[ok]]

    # fold member bounds/coverage to clause level
    cl_bounds = np.zeros((n_cl, n_int), dtype=np.float64)
    cl_cover = np.zeros((n_cl, n_int), dtype=bool)
    for mi, (ci, _, _, _) in enumerate(members):
        cl_bounds[ci] += mbounds[mi]
        cl_cover[ci] |= cover[mi] >= 0
    for ci in range(n_cl):
        if is_group[ci]:
            # group score = f32(Σ f64 member f32 scores) — the early f32
            # cast can round up to one ulp above the f64 member-bound sum;
            # pad so the interval bound stays >= any achievable score
            b = cl_bounds[ci]
            nz = b > 0
            if nz.any():
                b[nz] = np.nextafter(
                    b[nz].astype(np.float32), np.float32(np.inf)
                ).astype(np.float64)

    int_bound = cl_bounds.sum(axis=0)
    if q.n_must > 0:
        must_rows = [ci for ci in range(n_cl) if occurs[ci] == "must"]
        feasible = np.all(cl_cover[must_rows], axis=0)
    else:
        feasible = cl_cover.any(axis=0)
    order = np.argsort(-int_bound, kind="stable")
    order = order[feasible[order]]

    # must_not postings (non-scoring, decoded once)
    excl = None
    if q.must_not_terms:
        arrs = [decode_postings(term_blocks.get(t, []))[0] for t in q.must_not_terms
                if term_blocks.get(t)]
        if arrs:
            excl = np.unique(np.concatenate(arrs))
    excl = _merge_excl(excl, deleted)

    # --- sweep intervals in descending bound order ---
    raw_cache = decode_cache if decode_cache is not None else {}
    score_cache: dict[tuple[int, int], tuple] = {}  # (member, block) → (docs, scores32)

    def block_scored(mi: int, bi: int):
        key = (mi, bi)
        if key not in score_cache:
            rkey = ("blk", member_terms[mi], bi)
            if rkey not in raw_cache:
                raw_cache[rkey] = decode_block(blocks_per_member[mi][bi])
            docs, tfs = raw_cache[rkey]
            _, _, w_m, aux_m = members[mi]
            scores = q.sim.score(
                tfs, _norm_lookup(norms_arr, base, docs), w_m, q.cache,
                aux_m,
            )
            score_cache[key] = (docs, scores)
        return score_cache[key]

    def member_slice(mi: int, ii: int):
        bi = cover[mi, ii]
        if bi < 0:
            return None
        docs, scores = block_scored(mi, int(bi))
        a = int(np.searchsorted(docs, lo[ii], side="left"))
        b = int(np.searchsorted(docs, hi[ii], side="right"))
        if a == b:
            return None
        return docs[a:b], scores[a:b]

    pool_docs = np.empty(0, dtype=np.int64)
    pool_scores = np.empty(0, dtype=np.float32)
    theta = -np.inf
    for ii in order:
        if int_bound[ii] < theta:
            break
        cds, css, cocc = [], [], []
        dead = False
        for ci in range(n_cl):
            if is_group[ci]:
                # or_group: member slices union-summed per doc in member
                # order (f64), one f32 cast — bitwise the exact kernel's
                # group combine (every doc lives in exactly ONE interval,
                # so its member contributions all meet here)
                gds, gss = [], []
                for mi in clause_members[ci]:
                    sl = member_slice(mi, ii)
                    if sl is not None:
                        gds.append(sl[0])
                        gss.append(sl[1].astype(np.float64))
                if not gds:
                    if occurs[ci] == "must":
                        dead = True
                        break
                    continue
                alld = np.concatenate(gds)
                alls = np.concatenate(gss)
                ud, inv = np.unique(alld, return_inverse=True)
                gsum = np.zeros(len(ud), dtype=np.float64)
                np.add.at(gsum, inv, alls)
                cds.append(ud)
                css.append(gsum.astype(np.float32))
                cocc.append(occurs[ci])
                continue
            sl = member_slice(clause_members[ci][0], ii)
            if sl is None:
                if occurs[ci] == "must":
                    dead = True
                    break
                continue
            cds.append(sl[0])
            css.append(sl[1])
            cocc.append(occurs[ci])
        if dead or not cds:
            continue
        d, s = _combine(
            cds, css, cocc, q.n_must, q.min_should_match, excl,
            q.combine, q.tie, incl,
        )
        d, s = _apply_after(d, s, after)
        if d.size:
            pool_docs = np.concatenate([pool_docs, d])
            pool_scores = np.concatenate([pool_scores, s])
            if len(pool_docs) >= q.k:
                pool_docs, pool_scores = _topk(pool_docs, pool_scores, q.k)
                if len(pool_docs) == q.k:
                    theta = float(pool_scores[-1])
    return _topk(pool_docs, pool_scores, q.k)
