"""Seeded workload inputs: the transcripts corpus, its key-sorted parquet
layout, the query pool with its Zipf draw sequence, and update batches.

Two corpora, same schema and token-count law (FIXTURES.md §1):

- ``fixture``: ``datagen.generate_transcripts`` — a ~600-word vocabulary
  with hot terms in 30% of turns, ~500 terms per segment.
- ``wide_vocab``: the same rows with text redrawn Zipf(1.07) from a fixed
  vocabulary of 120k random words, like the identifiers and paths of real
  transcripts. ~2k terms per segment make the per-term codec loop
  dominate the invert.

Every seed gives a corpus of the same number of turns (the first ``turns``
in key order), and wide_vocab's per-turn token counts and 50-query set do
not depend on the seed either: the seed draws which words and keys, not how
much work a build or a query set is.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_solr_spark.analysis import LuceneChainAnalyzer
from lucene_solr_spark.datagen import build_vocab, generate_queries, generate_transcripts

KEY_COLS = ["conv_id", "turn_idx"]
QSET_MIX = [("term", 10), ("and2", 6), ("and3", 6), ("or2", 6), ("or3", 6),
            ("or_minshould", 6), ("phrase2", 6), ("and_not", 4)]
# more distinct term sets than the searcher's 256-entry bloom memo, so Zipf
# repeats both hit and miss any per-searcher cache
POOL_SIZE = 320
# the timed phase is a fixed number of rounds of build, queries and query
# set, --seconds / ROUND_S of them: every run does the same operations in the
# same order, so a metric's median is over the same samples in every run
ROUND_S = 8.0                   # nominal length of one round
MAX_ROUNDS = 6
QUERIES_PER_ROUND = 3
QSETS_PER_ROUND = 1
# a fresh searcher's first queries pay one-off costs; one untimed query of
# each operator family goes first
WARM_QTYPES = ("term", "and2", "or3", "phrase2")
UPDATE_BATCH = 50               # existing keys rewritten per update
WIDE_VOCAB = 120_000


@dataclass(frozen=True)
class Scale:
    fixture_conv: int       # conversations generated ...
    fixture_turns: int      # ... and the turns kept, whatever the seed
    wide_conv: int
    wide_turns: int


SCALES = {"full": Scale(fixture_conv=1600, fixture_turns=11_000, wide_conv=240, wide_turns=1_400),
          "tiny": Scale(fixture_conv=140, fixture_turns=700, wide_conv=80, wide_turns=350)}


@dataclass
class Inputs:
    workload: str
    seed: int
    corpus: pd.DataFrame            # key-sorted; row i is docID i
    queries: dict[str, dict]        # pool: qid -> fixture query row
    qset: list[str]                 # the 50-query set (qids into ``queries``)
    sequence: list[str]             # Zipf draws over the pool
    warm: list[str]                 # untimed warm-up queries, one per WARM_QTYPES
    batches: list[np.ndarray]       # corpus row indices per update cycle

    @property
    def text_bytes(self) -> int:
        return int(self.corpus["text"].str.encode("utf-8").str.len().sum())


def _wide_text(n_turns: int, rng: np.random.Generator) -> tuple[np.ndarray, list[str]]:
    # one vocabulary for every seed (seed 42, as in FIXTURES): the seed only
    # draws the text, so the head words' lengths do not move the byte ratios
    vrng = np.random.default_rng(42)
    letters = vrng.integers(97, 123, size=(WIDE_VOCAB, 10), dtype=np.uint8)
    lens = vrng.integers(4, 11, size=WIDE_VOCAB)
    vocab = list(dict.fromkeys(letters[i, :lens[i]].tobytes().decode() for i in range(WIDE_VOCAB)))
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = ranks ** -1.07
    probs /= probs.sum()
    # token counts from the fixed generator too: every seed's text has the
    # same length per turn
    counts = np.clip(np.round(vrng.lognormal(3.0, 0.8, size=n_turns)).astype(np.int64), 3, 250)
    toks = rng.choice(np.array(vocab, dtype=object), size=int(counts.sum()), p=probs)
    mangle = rng.random(len(toks)) < 0.10
    toks[mangle] = [t.upper() for t in toks[mangle]]
    ends = np.cumsum(counts)
    text = np.array([" ".join(toks[e - c:e]) for e, c in zip(ends, counts)], dtype=object)
    return text, vocab


def _query_row(rng: np.random.Generator, qtype: str, words: list[str]) -> dict:
    n = {"term": 1, "and2": 2, "or2": 2, "phrase2": 2, "and_not": 2}.get(qtype, 3)
    terms = [words[i] for i in rng.choice(len(words), size=n, replace=False)]
    return {"qtype": qtype, "terms": terms,
            "min_should": 2 if qtype == "or_minshould" else 0, "k": 10}


def _mixed_queries(rng: np.random.Generator, words: list[str], n: int) -> list[dict]:
    """``n`` queries in the reference set's qtype proportions."""
    out: list[dict] = []
    while len(out) < n:
        for qtype, count in QSET_MIX:
            out.extend(_query_row(rng, qtype, words) for _ in range(count))
    return out[:n]


def make_inputs(workload: str, seed: int, scale: str = "full") -> Inputs:
    sc = SCALES[scale]
    rng = np.random.default_rng([seed, 7])
    if workload == "fixture":
        corpus = _first_turns(generate_transcripts(sc.fixture_conv, seed=seed), sc.fixture_turns)
        # the 50 FIXTURES §2 reference queries; extras reuse their word list
        ref = [{k: q[k] for k in ("qtype", "terms", "min_should", "k")}
               for q in generate_queries()]
        # extras draw from the same common words generate_queries uses
        analyzer = LuceneChainAnalyzer()
        words = [w for w in build_vocab()[0] if analyzer.analyze(w)][:80]
    elif workload == "wide_vocab":
        corpus = _first_turns(generate_transcripts(sc.wide_conv, seed=seed), sc.wide_turns)
        corpus["text"], vocab = _wide_text(len(corpus), rng)
        # query words from the head of the Zipf law, where postings are long;
        # the 50-query set is the same for every seed, like the fixture's
        words = vocab[:400]
        ref = _mixed_queries(np.random.default_rng(42), words, 50)
    else:
        raise ValueError(f"unknown workload {workload!r}")

    pool = ref + _mixed_queries(rng, words, POOL_SIZE - len(ref))
    queries = {f"q{i:03d}": q for i, q in enumerate(pool)}
    # the i-th single query has the i-th qtype of the reference mix's
    # interleaved pattern, for every seed; which query of that qtype it is
    # follows Zipf(1.1) popularity over a seeded order of the type's queries
    pattern = [t for _, t in sorted(((i + 0.5) / n, t) for t, n in QSET_MIX for i in range(n))]
    by_type = {t: rng.permutation([qid for qid, q in queries.items() if q["qtype"] == t])
               for t, _ in QSET_MIX}
    sequence = []
    for i in range(MAX_ROUNDS * QUERIES_PER_ROUND):
        order = by_type[pattern[i % len(pattern)]]
        popularity = np.arange(1, len(order) + 1, dtype=np.float64) ** -1.1
        sequence.append(str(rng.choice(order, p=popularity / popularity.sum())))

    victims = rng.permutation(len(corpus))
    batch = min(UPDATE_BATCH, len(corpus) // (2 * MAX_ROUNDS))
    batches = [np.sort(victims[i * batch:(i + 1) * batch]) for i in range(MAX_ROUNDS)]
    qset = list(queries)[:50]
    warm = [next(qid for qid in qset if queries[qid]["qtype"] == t) for t in WARM_QTYPES]
    return Inputs(workload, seed, corpus, queries, qset, sequence, warm, batches)


def _first_turns(corpus: pd.DataFrame, turns: int) -> pd.DataFrame:
    """The first ``turns`` rows in key order: the same corpus size for
    every seed."""
    if len(corpus) < turns:
        raise ValueError(f"corpus has {len(corpus)} turns, fewer than {turns}")
    return corpus.sort_values(KEY_COLS).head(turns).reset_index(drop=True)


def write_corpus(corpus: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Key-sorted parquet layout for ``build_index_presorted``: file i's
    keys all precede file i+1's."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(corpus) // n_files)
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pandas(corpus.iloc[i * step:(i + 1) * step], preserve_index=False),
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
        )


def marker(seed: int, cycle: int) -> str:
    """A term no corpus contains; one per update cycle."""
    return f"zqmark{seed}x{cycle}x"


def updated_rows(inputs: Inputs, cycle: int) -> pd.DataFrame:
    """Cycle ``cycle``'s replacement rows: the batch's current text plus the
    cycle's marker term."""
    rows = inputs.corpus.iloc[inputs.batches[cycle]].copy()
    rows["text"] = rows["text"] + " " + marker(inputs.seed, cycle)
    return rows
