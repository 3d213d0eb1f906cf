"""Similarity models — float32-exact scoring kernels, one record each.

Every scoring model is one frozen ``Similarity`` record (the
``L/search/similarities/Similarity`` → ``SimScorer`` analog):

  field      role                                     bound where
  ---------  ---------------------------------------  ----------------------
  name       the model's short name (SIMILARITIES key) error messages
  table      stats → 256-entry per-norm-byte table    IndexSearcher.compile
  idf        (df, N) → f32 idf; None = weight is the   compile_query weights
             boost (BooleanSimilarity, SimilarityBase)
  aux        (df, ttf, N, sumTtf) → per-term clause    compile_query, term
             stat; None = 0.0                          clauses
  score      vectorized SimScorer#score over postings  kernels (exact, WAND)
  bound      block-max upper bound for WAND            kernels (WAND)
  supports   clause kinds beyond term / FILTER term    compile_query refusals

The module constants (``BM25``, ``CLASSIC``, …) are the eleven models the
engine ships; ``SIMILARITIES`` maps their names. A variant (tuned k1/b,
omitted norms) is ``dataclasses.replace`` of a constant with another
``table``. Records hold only module-level functions or ``functools.partial``
of them, so a ``CompiledQuery`` carrying one pickles by reference into the
scoring tasks.

BM25 semantics from ``L/search/similarities/BM25Similarity.java`` (8.x,
i.e. AFTER LUCENE-8563 dropped the classic ``(k1+1)`` numerator factor —
rank-preserving vs textbook BM25 but absolute scores differ):

  idf    = (float) ln(1 + (docCount − docFreq + 0.5) / (docFreq + 0.5))
           with docCount = docs that HAVE the field (not maxDoc)
  avgdl  = (float)(sumTotalTermFreq / (double) docCount)
  cache[j] = k1 * ((1 − b) + b * LENGTH_TABLE[j] / avgdl)        (float32 ops)
  weight = boost * idf                                            (float32)
  score(freq, norm) = weight * (float)(freq / (freq + (double) cache[norm]))

Boolean score = (float) Σ_double(per-clause float32 scores)
(``DisjunctionSumScorer`` / ``ConjunctionScorer`` accumulate in double and
cast once). All kernels are numpy-vectorized.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from functools import lru_cache, partial
from typing import Callable

import numpy as np

from ..util.smallfloat import LENGTH_TABLE

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def idf(doc_freq: int, doc_count: int) -> np.float32:
    """Per-term idf, float32-cast like BM25Similarity#idf."""
    return np.float32(math.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def avgdl(sum_total_term_freq: int, doc_count: int) -> np.float32:
    return np.float32(sum_total_term_freq / float(doc_count))


def norm_cache(avg_dl: np.float32, k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> np.ndarray:
    """The 256-entry per-norm-byte multiplier cache (float32, Lucene op order:
    ``k1 * ((1 - b) + b * LENGTH_TABLE[j] / avgdl)`` evaluated in float32)."""
    k1f = np.float32(k1)
    bf = np.float32(b)
    table = LENGTH_TABLE.astype(np.float32)
    return (k1f * ((np.float32(1.0) - bf) + (bf * table) / np.float32(avg_dl))).astype(np.float32)


@dataclass(frozen=True)
class CollectionStats:
    """Broadcast global stats (``L/search/CollectionStatistics``)."""

    doc_count: int
    sum_total_term_freq: int

    @property
    def avgdl(self) -> np.float32:
        return avgdl(self.sum_total_term_freq, self.doc_count)


def score_postings(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """Vectorized BM25Scorer#score over one term's postings.

    tfs: int array; norm_bytes: uint8/int array of norm bytes; weight =
    boost*idf (float32); cache = norm_cache(...). Returns float32 scores.
    """
    freq = tfs.astype(np.float64)
    norm = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF].astype(np.float64)
    ratio = (freq / (freq + norm)).astype(np.float32)
    return (np.float32(weight) * ratio).astype(np.float32)


def block_max_score(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """Upper bound on any score in a block — the impact bound used by
    block-max WAND (``L/search/ImpactsDISI#getMaxScore`` analog)."""
    freq = float(max_tf)
    norm = float(cache[min_norm & 0xFF])
    return np.float32(np.float32(weight) * np.float32(freq / (freq + norm)))


# --- ClassicSimilarity (pre-8 default TF-IDF; L/search/similarities/
# TFIDFSimilarity + ClassicSimilarity) -----------------------------------
# Lucene 7+ stores the SAME norm bytes for every similarity (SmallFloat
# intToByte4 of the doc length), so Classic runs on an index built for BM25:
#   idf    = (float)(1 + ln(docCount / (docFreq + 1)))
#   tf     = (float)sqrt(freq)
#   norm   = (float)(1 / sqrt(LENGTH_TABLE[normByte]))   (lengthNorm)
#   score  = f32(f32(tf * weight) * norm)   (TFIDFSimScorer#score op order)
# queryNorm/coord were removed in Lucene 7 (LUCENE-7347).


def classic_idf(doc_freq: int, doc_count: int) -> np.float32:
    return np.float32(1.0 + math.log(doc_count / (doc_freq + 1.0)))


def classic_norm_cache() -> np.ndarray:
    """256-entry lengthNorm table: f32(1/sqrt(decoded length)); the
    length-0 byte never appears in postings (docs with no terms have no
    postings) so its slot is 0."""
    table = LENGTH_TABLE.astype(np.float64)
    out = np.zeros(256, dtype=np.float32)
    nz = table > 0
    out[nz] = (1.0 / np.sqrt(table[nz])).astype(np.float32)
    return out


def score_postings_classic(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """Vectorized TFIDFSimScorer#score: f32(f32(sqrt(tf)·weight)·lengthNorm)."""
    tf = np.sqrt(tfs.astype(np.float64)).astype(np.float32)
    raw = (tf * np.float32(weight)).astype(np.float32)
    norm = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF].astype(np.float32)
    return (raw * norm).astype(np.float32)


def block_max_score_classic(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """Block upper bound for Classic: tf is monotone in freq and lengthNorm
    monotone in −length, so (max_tf, min_norm byte) bounds every posting."""
    tf = np.float32(math.sqrt(float(max_tf)))
    raw = np.float32(tf * np.float32(weight))
    return np.float32(raw * cache[min_norm & 0xFF])


# --- BooleanSimilarity (L/search/similarities/BooleanSimilarity) --------
# score = query boost, independent of tf/norms/stats — "matching is the
# score" (constant-score ranking; useful for pure filter-style retrieval
# where the tiebreak order is the docID). Norm bytes are read but ignored.


def score_postings_boolean(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    return np.full(len(tfs), np.float32(weight), dtype=np.float32)


def block_max_score_boolean(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    return np.float32(weight)


# --- LMDirichletSimilarity (L/search/similarities/LMDirichletSimilarity,
# SimilarityBase subclass; default mu=2000) ------------------------------
#   cp     = float((ttf + 1f) / (sumTotalTermFreq + 1f))      (FLOAT ops —
#            LMSimilarity.DefaultCollectionModel#computeProbability)
#   score  = boost · (ln(1 + freq/(mu·cp)) + ln(mu/(dl + mu)))  (double),
#            clamped at 0, one float cast (SimilarityBase#BasicSimScorer)
# dl = decoded norm length. The dl-dependent part is term-independent, so it
# precomputes into a 256-entry per-norm-byte table; the term-dependent
# mu·cp rides on the clause as `aux`.

LM_MU = 2000.0


def lm_collection_probability(ttf: int, sum_ttf: int) -> np.float32:
    return np.float32(
        (np.float32(ttf) + np.float32(1.0)) / (np.float32(sum_ttf) + np.float32(1.0))
    )


def lm_norm_cache(mu: float = LM_MU) -> np.ndarray:
    """256-entry double table: ln(mu / (LENGTH_TABLE[j] + mu))."""
    dl = LENGTH_TABLE.astype(np.float64)
    return np.log(mu / (dl + mu))


def score_postings_lm(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = mu·cp (double). weight = boost (f32)."""
    freq = tfs.astype(np.float64)
    lenpart = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    s = np.float64(weight) * (np.log(1.0 + freq / aux) + lenpart)
    return np.maximum(s, 0.0).astype(np.float32)


def block_max_score_lm(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """Monotone ↑freq and ↓dl ⇒ (max_tf, min_norm byte) bounds the block."""
    s = np.float64(weight) * (np.log(1.0 + float(max_tf) / aux) + cache[min_norm & 0xFF])
    return np.float32(max(s, 0.0))


# --- AxiomaticF2EXP (L/search/similarities/AxiomaticF2EXP.java — the
# axiomatic retrieval family of Fang & Zhai 2005, primitive-weighting
# function F2-EXP; SimilarityBase subclass, defaults s=0.5, k=0.35) --------
#   idf  = ((N + 1) / df)^k                       (Axiomatic#idf, double)
#   tfln = freq / (freq + s + s·dl/avgdl)          (Axiomatic#tfln, double;
#          tf = ln = 1, gamma = 0 for F2EXP)
#   score = boost · idf · tfln     (double math, clamped at 0, one f32 cast
#           — SimilarityBase#BasicSimScorer discipline, same as LM/DFR/IB)
# dl = decoded norm length; the dl-dependent denominator addend
# (s + s·dl/avgdl) precomputes into a 256-entry per-norm-byte double table;
# the per-clause ((N+1)/df)^k rides ``aux``; weight = boost. avgdl enters
# as float32 (the oracle's FLOAT statsf.avgdl), then double ops — op order
# mirrored bitwise in oracles.f2exp_topk_sql.

F2EXP_S = 0.5
F2EXP_K = 0.35


def f2exp_norm_cache(avgdl: float, s: float = F2EXP_S) -> np.ndarray:
    """256-entry double table: s + s·dl/avgdl (the tfln denominator addend);
    the dl=0 byte never appears in postings, slot holds the freq-only limit
    s (harmless)."""
    dl = LENGTH_TABLE.astype(np.float64)
    return s + (s * dl) / np.float64(np.float32(avgdl))


def score_postings_f2exp(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = ((N+1)/df)^k (double). weight = boost (f32)."""
    freq = tfs.astype(np.float64)
    denom_add = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    s = np.float64(weight) * aux * (freq / (freq + denom_add))
    return np.maximum(s, 0.0).astype(np.float32)


def block_max_score_f2exp(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """freq/(freq+c) is ↑freq and ↓c, c is ↑dl ⇒ (max_tf, min_norm byte)
    bounds every posting in the block (WAND safety)."""
    f = np.float64(max_tf)
    s = np.float64(weight) * aux * (f / (f + cache[min_norm & 0xFF]))
    return np.float32(max(s, 0.0))


# --- SweetSpotSimilarity (L/misc/.../SweetSpotSimilarity.java — a
# ClassicSimilarity subclass tuned for fielded corpora: documents inside a
# "sweet spot" of lengths all get the FULL length norm (plateau), and tiny
# term frequencies score a flat baseline) ----------------------------------
#   lengthNorm(dl) = 1/sqrt(steepness·(|dl−min|+|dl−max|−(max−min)) + 1)
#                    (== 1.0 for dl ∈ [min, max]; float32 like lengthNorm)
#   baselineTf(f)  = 0 if f = 0; base if 0 < f ≤ min_tf;
#                    sqrt(f + base² − min_tf) otherwise    (float32)
#   score = f32(f32(baselineTf·weight) · lengthNorm), weight = boost·idf
#           (classic idf — TFIDFSimilarity discipline)
# Config here: length sweet spot [3, 20] at steepness 0.5, tf baseline
# (min_tf=2, base=1.5) — the javadoc's worked-example shape.

SWEET_LN_MIN, SWEET_LN_MAX, SWEET_STEEP = 3, 20, 0.5
SWEET_TF_MIN, SWEET_TF_BASE = 2.0, 1.5


def sweetspot_norm_cache() -> np.ndarray:
    """256-entry f32 plateau lengthNorm table over decoded lengths."""
    dl = LENGTH_TABLE.astype(np.float64)
    raw = 1.0 / np.sqrt(
        SWEET_STEEP * (np.abs(dl - SWEET_LN_MIN) + np.abs(dl - SWEET_LN_MAX)
                       - (SWEET_LN_MAX - SWEET_LN_MIN)) + 1.0
    )
    out = raw.astype(np.float32)
    out[0] = 0.0  # dl=0 never appears in postings
    return out


def _sweet_tf(freq: np.ndarray) -> np.ndarray:
    f = freq.astype(np.float64)
    tf = np.sqrt(f + SWEET_TF_BASE * SWEET_TF_BASE - SWEET_TF_MIN)
    tf = np.where(f <= SWEET_TF_MIN, SWEET_TF_BASE, tf)
    return np.where(f <= 0, 0.0, tf).astype(np.float32)


def score_postings_sweetspot(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """f32(f32(baselineTf·weight) · lengthNorm) — the TFIDFSimScorer op
    order with the sweet-spot tf and norm functions swapped in."""
    raw = (_sweet_tf(tfs) * np.float32(weight)).astype(np.float32)
    norm = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF].astype(np.float32)
    return (raw * norm).astype(np.float32)


def block_max_score_sweetspot(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """The plateau breaks lengthNorm's monotonicity in dl, so min_norm no
    longer bounds the block's norm factor — the bound uses the TABLE MAX
    (the plateau value, 1.0) instead: looser than Classic's but safe for
    every norm byte the block could hold (baselineTf stays ↑ in freq)."""
    tf = _sweet_tf(np.array([max_tf]))[0]
    raw = np.float32(tf * np.float32(weight))
    return np.float32(raw * np.float32(cache.max()))


def sum_scores_f32(per_clause: list[np.ndarray]) -> np.ndarray:
    """Σ in float64, one float32 cast (Disjunction/ConjunctionScorer)."""
    acc = np.zeros(per_clause[0].shape, dtype=np.float64)
    for s in per_clause:
        acc += s.astype(np.float64)
    return acc.astype(np.float32)


# --- DFRSimilarity (L/search/similarities/DFRSimilarity with BasicModelIN +
# AfterEffectL + NormalizationH2, the divergence-from-randomness family's
# canonical Lucene-8 configuration) ------------------------------------------
#   tfn   = freq · log2(1 + c·avgdl/dl)            (NormalizationH2, c = 1)
#   score = boost · log2((N+1)/(df+0.5)) · tfn/(1+tfn)
#           (BasicModelIN × AfterEffectL; SimilarityBase: double math,
#            clamped at 0, one float cast)
# The dl-dependent factor precomputes into a 256-entry per-norm-byte double
# table (log2(1 + c·avgdl/dl)); the per-clause log2((N+1)/(df+0.5)) rides
# ``aux``; weight = boost. avgdl enters as float32 (matches the oracle's
# FLOAT statsf.avgdl), then double ops — op order mirrored bitwise in
# oracles.dfr_topk_sql.

DFR_C = 1.0


def dfr_h2_cache(avgdl: float, c: float = DFR_C) -> np.ndarray:
    """256-entry double table: log2(1 + c·avgdl/dl); the dl=0 byte never
    appears in postings (empty docs emit no postings), slot left 0."""
    dl = LENGTH_TABLE.astype(np.float64)
    out = np.zeros(256, dtype=np.float64)
    nz = dl > 0
    out[nz] = np.log2(1.0 + (c * np.float64(np.float32(avgdl))) / dl[nz])
    return out


def score_postings_dfr(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = log2((N+1)/(df+0.5)) (double). weight = boost (f32)."""
    tfn = tfs.astype(np.float64) * cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    s = np.float64(weight) * aux * (tfn / (1.0 + tfn))
    return np.maximum(s, 0.0).astype(np.float32)


def block_max_score_dfr(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """tfn ↑freq, ↓dl; tfn/(1+tfn) ↑tfn ⇒ (max_tf, min_norm) bounds."""
    tfn = np.float64(max_tf) * cache[min_norm & 0xFF]
    return np.float32(max(np.float64(weight) * aux * (tfn / (1.0 + tfn)), 0.0))


# --- IBSimilarity (L/search/similarities/IBSimilarity with DistributionLL +
# LambdaDF + NormalizationH2) -------------------------------------------------
#   λw    = (df+1)/(N+1)                            (LambdaDF, double)
#   tfn   = freq · log2(1 + c·avgdl/dl)             (same H2 table as DFR)
#   score = boost · ln((tfn + λw)/λw)               (DistributionLL:
#           −ln(λ/(tfn+λ)); double math, clamped at 0, one float cast)


def score_postings_ib(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = λw = (df+1)/(N+1) (double). weight = boost (f32)."""
    tfn = tfs.astype(np.float64) * cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    s = np.float64(weight) * np.log((tfn + aux) / aux)
    return np.maximum(s, 0.0).astype(np.float32)


def block_max_score_ib(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    tfn = np.float64(max_tf) * cache[min_norm & 0xFF]
    return np.float32(max(np.float64(weight) * np.log((tfn + aux) / aux), 0.0))


# --- LMJelinekMercerSimilarity (L/search/similarities/
# LMJelinekMercerSimilarity, λ = 0.7 — Solr's long-query default) -------------
#   cp    = float((ttf+1)/(sumTtf+1))               (DefaultCollectionModel)
#   score = boost · ln(1 + ((1−λ)·freq/dl) / (λ·cp))
#           (double math, clamped at 0, one float cast)
# dl = decoded norm length; the per-clause λ·cp rides ``aux``; the cache is
# the decoded-length table itself.

LMJM_LAMBDA = 0.7


def lmjm_norm_cache() -> np.ndarray:
    """256-entry double table: the decoded doc length per norm byte."""
    return LENGTH_TABLE.astype(np.float64)


def score_postings_lmjm(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = λ·cp (double, cp float32). weight = boost (f32)."""
    dl = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    s = np.float64(weight) * np.log(
        1.0 + ((1.0 - LMJM_LAMBDA) * tfs.astype(np.float64) / dl) / aux
    )
    return np.maximum(s, 0.0).astype(np.float32)


def block_max_score_lmjm(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """Monotone ↑freq and ↓dl ⇒ (max_tf, min_norm byte) bounds the block."""
    s = np.float64(weight) * np.log(
        1.0 + ((1.0 - LMJM_LAMBDA) * np.float64(max_tf) / cache[min_norm & 0xFF]) / aux
    )
    return np.float32(max(s, 0.0))


# --- DFISimilarity (L/search/similarities/DFISimilarity with
# IndependenceStandardized — divergence-from-independence,
# the parameter-free "DFI" retrieval model) -----------------------------------
#   expected = ((ttf+1)/(sumTtf+1)) · dl      (BasicStats#getTotalTermFreq /
#                                              #getNumberOfFieldTokens)
#   freq <= expected                → 0       (the DFI gate: a term occurring
#                                              no more than chance carries no
#                                              information)
#   measure  = (freq − expected)/sqrt(expected)   (IndependenceStandardized)
#   score    = boost · log2(measure + 1)      (double math, one float cast)
# The per-term (ttf+1)/(sumTtf+1) collection ratio rides ``aux`` (pure
# double); the cache is the decoded-length table (same as LMJM). Upstream
# computes expected as ((ttf+1)·dl)/(sumTtf+1); factoring the collection
# ratio into ``aux`` reorders one double multiply (≤1 ulp in an
# intermediate) — the engine and its SQL oracle share THIS order, so the
# parity gate stays bitwise.


def score_postings_dfi(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """aux = (ttf+1)/(sumTtf+1) (double). weight = boost (f32)."""
    dl = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    expected = aux * dl
    freq = tfs.astype(np.float64)
    with np.errstate(invalid="ignore"):
        measure = (freq - expected) / np.sqrt(expected)
        s = np.float64(weight) * np.log2(measure + 1.0)
    return np.where(freq > expected, s, 0.0).astype(np.float32)


def block_max_score_dfi(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """measure ↑freq and ↓expected; expected ↑dl ⇒ (max_tf, min_norm byte)
    bounds the block."""
    expected = aux * cache[min_norm & 0xFF]
    f = np.float64(max_tf)
    if f <= expected:
        return np.float32(0.0)
    s = np.float64(weight) * np.log2((f - expected) / np.sqrt(expected) + 1.0)
    return np.float32(max(s, 0.0))


# --- IndexOptions.DOCS (omitTermFreqAndPositions) ---------------------------
# FieldInfo#getIndexOptions == DOCS: PostingsEnum#freq() returns 1 for every
# doc regardless of stored tf, so BM25 degenerates per doc to
#   w · f32(1 / (1 + cache[norm]))
# — norms still apply (the field keeps lengths), only tf is dropped at READ
# time, exactly the upstream contract for a DOCS-indexed field searched by
# a scoring query.


def score_postings_docsonly(
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    weight: np.float32,
    cache: np.ndarray,
    aux: float = 0.0,
) -> np.ndarray:
    """Vectorized DOCS-field BM25: stored tf IGNORED (freq() == 1)."""
    norm = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF].astype(np.float64)
    ratio = (1.0 / (1.0 + norm)).astype(np.float32)
    return (np.float32(weight) * ratio).astype(np.float32)


def block_max_score_docsonly(
    max_tf: int, min_norm: int, weight: np.float32, cache: np.ndarray, aux: float = 0.0
) -> np.float32:
    """Impact bound with freq clamped to 1 (max_tf is irrelevant — the
    bound is exact for the block's min norm)."""
    norm = float(cache[min_norm & 0xFF])
    return np.float32(np.float32(weight) * np.float32(1.0 / (1.0 + norm)))


# --- the Similarity records -------------------------------------------------


def _avgdl_table(build: Callable, stats: CollectionStats) -> np.ndarray:
    return build(stats.avgdl)


def _stats_free_table(build: Callable, stats: CollectionStats) -> np.ndarray:
    return build()


def _omit_norms_table(stats: CollectionStats) -> np.ndarray:
    """omitNorms: ``LeafSimScorer#getNormValue`` is the constant 1 when the
    norms producer is absent, so every byte maps to ``norm_cache[1]``."""
    return np.full(256, norm_cache(stats.avgdl)[1], dtype=np.float32)


def _lm_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    return LM_MU * float(lm_collection_probability(ttf, sum_ttf))


def _lmjm_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    return LMJM_LAMBDA * float(lm_collection_probability(ttf, sum_ttf))


def _dfr_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    return float(np.log2((n + 1.0) / (df + 0.5)))  # BasicModelIN


def _ib_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    return (df + 1.0) / (n + 1.0)  # LambdaDF


def _f2exp_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    return ((n + 1.0) / float(df)) ** F2EXP_K  # Axiomatic#idf


def _dfi_aux(df: int, ttf: int, n: int, sum_ttf: int) -> float:
    # expected = aux · dl with aux the pure-double collection ratio
    return (ttf + 1.0) / (sum_ttf + 1.0)


# multi-term clause kinds every idf-weighted model and BooleanSimilarity
# score (named as compile_query refuses them); the SimilarityBase family
# lacks their pseudo-term collection stats
_MULTI_TERM = frozenset({"or_group filter", "phrase", "span", "interval"})


@dataclass(frozen=True)
class Similarity:
    """One scoring model; see the module docstring for the fields."""

    name: str
    table: Callable[[CollectionStats], np.ndarray]
    score: Callable
    bound: Callable
    idf: Callable[[int, int], np.float32] | None = None
    aux: Callable[[int, int, int, int], float] | None = None
    supports: frozenset = frozenset()

    def require(self, what: str) -> None:
        """Refuse a clause kind this model has no scorer for."""
        if what not in self.supports:
            use = "/".join(n for n, s in SIMILARITIES.items() if what in s.supports)
            raise ValueError(f"{self.name} {what} scoring not implemented; use {use}")


BM25 = Similarity(
    "bm25", partial(_avgdl_table, norm_cache), score_postings, block_max_score,
    idf, supports=_MULTI_TERM | {"or_group", "blended", "synonym", "multiphrase"},
)
# IndexOptions.DOCS: same BM25 idf weight and table; only freq() changes
DOCSONLY = Similarity(
    "docsonly", BM25.table, score_postings_docsonly, block_max_score_docsonly,
    idf, supports=_MULTI_TERM,
)
CLASSIC = Similarity(
    "classic", partial(_stats_free_table, classic_norm_cache),
    score_postings_classic, block_max_score_classic, classic_idf,
    supports=_MULTI_TERM | {"or_group", "blended", "synonym"},
)
# SweetSpotSimilarity extends ClassicSimilarity: same idf, only the tf and
# lengthNorm functions are swapped
SWEETSPOT = Similarity(
    "sweetspot", partial(_stats_free_table, sweetspot_norm_cache),
    score_postings_sweetspot, block_max_score_sweetspot, classic_idf,
    supports=_MULTI_TERM,
)
# BooleanSimilarity's SimScorer returns the boost for ANY query type: a
# phrase scores boost, not n_terms·boost
BOOLEAN = Similarity(
    "boolean", CLASSIC.table, score_postings_boolean, block_max_score_boolean,
    supports=_MULTI_TERM | {"synonym"},
)
# SimilarityBase family: no idf in the weight (weight = boost); the per-term
# collection stat rides the clause as ``aux``. LMJM and DFI both score off
# the decoded doc length directly; DFR and IB share the H2 table.
LM = Similarity(
    "lm", partial(_stats_free_table, lm_norm_cache), score_postings_lm,
    block_max_score_lm, aux=_lm_aux,
)
LMJM = Similarity(
    "lmjm", partial(_stats_free_table, lmjm_norm_cache), score_postings_lmjm,
    block_max_score_lmjm, aux=_lmjm_aux,
)
DFR = Similarity(
    "dfr", partial(_avgdl_table, dfr_h2_cache), score_postings_dfr,
    block_max_score_dfr, aux=_dfr_aux,
)
IB = Similarity(
    "ib", DFR.table, score_postings_ib, block_max_score_ib, aux=_ib_aux,
)
F2EXP = Similarity(
    "f2exp", partial(_avgdl_table, f2exp_norm_cache), score_postings_f2exp,
    block_max_score_f2exp, aux=_f2exp_aux,
)
DFI = Similarity(
    "dfi", LMJM.table, score_postings_dfi, block_max_score_dfi, aux=_dfi_aux,
)
SIMILARITIES = {
    s.name: s
    for s in (BM25, DOCSONLY, CLASSIC, SWEETSPOT, BOOLEAN, LM, LMJM, DFR, IB, F2EXP, DFI)
}

# omitNorms=true: length normalization disabled, every doc scores through
# the SAME norm-cache entry; WAND block bounds ride the same constant
OMIT_NORMS = replace(BM25, table=_omit_norms_table)


@lru_cache(maxsize=None)
def bm25_tuned(k1: float, b: float) -> Similarity:
    """BM25Similarity(k1, b) over the same index: norms store lengths, not
    b-baked values, so only the 256-entry table changes. One record per
    (k1, b), so a searcher builds each tuned table once."""
    return replace(BM25, table=partial(_avgdl_table, partial(norm_cache, k1=k1, b=b)))
