"""Distributed IndexSearcher (``L/search/IndexSearcher`` analog).

Query lifecycle (SURVEY.md §3.1, Spark shape):

1. compile on driver: analyze surface terms (query-time chain == index-time
   chain), bind global stats from the ``stats``/``term_stats`` tables into
   float32 weights → CompiledQuery. Stats bind once per searcher
   (``TermStates#build`` per reader, Solr's per-searcher stats cache): the
   collection stats at the first query, each term's (df, ttf) at its first
   lookup, so a query whose terms the searcher has seen compiles without a
   Spark job. A live searcher keeps what it bound; reopen it after a commit
   to see the new stats.
2. one scoring stage (``util/segscan.py`` dealing ``search/segtask.py``'s
   per-segment tasks): the bloom-admitted segments are dealt round-robin
   to min(segments, defaultParallelism) tasks of a
   ``spark.range(n).mapInArrow`` job; each task reads its own segments'
   term-filtered postings (parquet row-group pruning on the term-sorted
   files), norms row and tombstones, and runs the per-segment kernel (WAND
   or exact) → per-segment top-k. No shuffle feeds the kernel. The
   segments and their bases come from the manifest, read once when the
   searcher opens (``index.build.read_manifest``): a segment without a
   marker is invisible.
3. a keyed search reads the key columns of only those ≤k survivors from
   the segment's docs files inside the same task (fetch-fields-late, Solr
   PURPOSE_GET_FIELDS discipline: text/keys never flow through scoring),
   so no doc-key join follows.
4. the per-segment top-k rows come back to the driver as Arrow
   (``toArrow``), at most k rows per admitted segment, and ``merge_top``
   merges them there (``TopDocs#merge`` / SolrCloud ``mergeIds``): one
   stable sort by (score desc, docID asc) — per query for a query set —
   cut to k and ranked 1…k. The page is handed back as a LocalRelation
   (``util/segscan.local_frame``), so the scoring stage is the search's
   last Spark stage and collecting the page launches no job.
"""

from __future__ import annotations

import glob
import os
import re
from collections import OrderedDict
from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import FloatType, IntegerType, LongType, StringType, StructField, StructType

from ..index.build import ANALYZERS, IndexMeta, global_docs, read_manifest, read_term_stats
from ..index.updates import read_tombstones, tombstone_files
from .bm25 import BM25, CollectionStats, Similarity
from .kernels import count_segment_matches, score_segment_exact, score_segment_wand
from .query import BooleanSpec, CompiledQuery, compile_query, parse_fixture_query
from ..util.segscan import local_frame, segment_scan
from .segtask import PostingsSource, SegmentFiles, fetch_keys, open_segment

_EMPTY_LOCALS = np.empty(0, dtype=np.int64)

# Bloom sidecar: hold all segment blooms on the driver only below this many
# bytes (~64 KiB per 50k-term segment ⇒ ~1000 segments); above it the admit
# test runs distributed per term set and only seg ids cross to the driver.
BLOOM_DRIVER_BUDGET = 64 << 20
# A disjunction wider than this almost surely touches every segment — skip
# the probe instead of paying it for no pruning.
BLOOM_MAX_TERMS = 16
# Term stats bound per searcher: at most this many terms (seen or absent),
# evicted first in, first out, so the cache follows the query terms, not
# the dictionary.
TERM_STATS_CACHE_MAX = 1 << 16
_HIT_FIELDS = [StructField("doc_id", LongType()), StructField("score", FloatType())]
_MULTI_SCHEMA = StructType([StructField("query_id", StringType()), *_HIT_FIELDS])
_RANK = StructField("rank", IntegerType(), nullable=False)
_MANY_SCHEMA = StructType([_MULTI_SCHEMA["query_id"], _RANK, *_HIT_FIELDS])


def _kernel(q: CompiledQuery, mode: str):
    return score_segment_exact if (mode == "exact" or q.needs_exact) else score_segment_wand


def _incl(q: CompiledQuery, base: int) -> np.ndarray | None:
    """The FILTER occur's allowed local ids of the segment at ``base``."""
    if q.filter_by_base is None:
        return None
    return q.filter_by_base.get(base, _EMPTY_LOCALS)


def _hits_task(
    files: SegmentFiles, q: CompiledQuery, mode: str, after: tuple | None,
    with_keys: bool,
):
    """Per-segment (doc_id, score[, key cols]) of one query."""
    kernel = _kernel(q, mode)

    def score(seg: int) -> pa.Table | None:
        s = open_segment(files, seg)
        if s is None:
            return None
        # postings are seg-local; rebase the global searchAfter cursor too
        after_local = (after[0], int(after[1]) - s.base) if after is not None else None
        docs, scores = kernel(
            s.term_blocks, s.norms, 0, q, after_local, _incl(q, s.base), None, s.dele
        )
        if not len(docs):
            return None
        out = pa.table({
            "doc_id": docs + s.base,  # globalize at the boundary
            "score": scores.astype(np.float32),
        })
        if with_keys:
            keys = fetch_keys(files, seg, docs)
            for c in files.key_cols:
                out = out.append_column(c, keys[c])
        return out

    return score


def _multi_task(files: SegmentFiles, queries: dict[str, CompiledQuery], mode: str):
    """Per-segment (query_id, doc_id, score) local top-k of a query set;
    queries sharing terms decode each block once per segment."""

    def score(seg: int) -> pa.Table | None:
        s = open_segment(files, seg)
        if s is None:
            return None
        qids, docs_out, scores_out = [], [], []
        shared_decode: dict = {}
        for qid, q in queries.items():
            if not q.clauses:
                continue
            docs, scores = _kernel(q, mode)(
                s.term_blocks, s.norms, 0, q, None, _incl(q, s.base), shared_decode,
                s.dele,
            )
            qids.extend([qid] * len(docs))
            docs_out.append(docs + s.base)
            scores_out.append(scores.astype(np.float32))
        if not qids:
            return None
        return pa.table({
            "query_id": pa.array(qids, type=pa.string()),
            "doc_id": np.concatenate(docs_out),
            "score": np.concatenate(scores_out),
        })

    return score


def _count_task(files: SegmentFiles, q: CompiledQuery):
    """Per-segment matching-doc count (TotalHitCountCollector analog)."""

    def count(seg: int) -> pa.Table | None:
        s = open_segment(files, seg)
        if s is None:
            return None
        n = count_segment_matches(s.term_blocks, q, _incl(q, s.base), s.dele)
        return pa.table({"cnt": pa.array([n], type=pa.int64())})

    return count


def ranked_top(df: DataFrame, k: int | None, *order) -> DataFrame:
    """Global top-``k`` of ``df`` by ``order`` plus a 1-based int ``rank``
    column, sorted by rank. ``k=None`` ranks every row of an already-small
    ``df`` (no cut).

    rank runs AFTER limit(k) — k rows only. coalesce(1) + in-partition
    sort + monotonically_increasing_id (partition 0 ⇒ ids 0..k−1 in row
    order) gives row_number without a WindowExec, so no
    unpartitioned-window warning and no extra shuffle on k rows."""
    top = df if k is None else df.orderBy(*order).limit(k)
    return (
        top.coalesce(1)
        .sortWithinPartitions(*order)
        .withColumn("rank", (F.monotonically_increasing_id() + 1).cast("int"))
        .orderBy("rank")
    )


def merge_top(t: pa.Table, k: int | dict[str, int]) -> pa.Table:
    """``TopDocs#merge`` on the driver: the per-segment top-k rows ``t``
    in (score desc, doc_id asc) order, cut to ``k`` and numbered by a
    1-based int32 ``rank`` column appended last. A ``k`` dict maps
    query_id → k: the rows are ordered by query_id first, and each query
    is ranked and cut on its own (the ``search_many`` shape)."""
    per_query = isinstance(k, dict)
    order = [("score", "descending"), ("doc_id", "ascending")]
    t = t.take(pc.sort_indices(t, ([("query_id", "ascending")] if per_query else []) + order))
    n = t.num_rows
    qid = t["query_id"].to_numpy(zero_copy_only=False) if per_query else np.zeros(n)
    first = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]][:n])
    size = np.diff(np.r_[first, n])
    rank = np.arange(1, n + 1) - np.repeat(first, size)
    keep = rank <= (np.repeat([k[q] for q in qid[first]], size) if per_query else k)
    return t.filter(keep).append_column(_RANK.name, pa.array(rank[keep], pa.int32()))


def _collect(hits: DataFrame) -> pa.Table:
    """A scoring stage's rows as one Arrow table. When no stage runs (no
    clause, no term or no segment) the frame is an empty LocalRelation, and
    the empty table comes from its schema (collecting it as Arrow would
    launch a job)."""
    return to_arrow_schema(hits.schema).empty_table() if hits.isLocal() else hits.toArrow()


def _osa_distance(a: str, b: str) -> int:
    """Optimal string alignment distance (restricted Damerau–Levenshtein):
    insert/delete/substitute cost 1, an adjacent transposition costs 1 but
    no substring is edited twice — the distance Lucene's
    ``LevenshteinAutomata`` with transpositions accepts."""
    la, lb = len(a), len(b)
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1 and j > 1
                and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


class IndexSearcher:
    def __init__(
        self, spark: SparkSession, index_dir: str, commit: int | None = None
    ):
        """``commit=N`` opens the index AT a retained commit point — the
        ``DirectoryReader.open(IndexCommit)`` analog (``index/commits.py``):
        every scan is seg-partition-pruned to the commit's live segments,
        only the commit's tombstone files are read, and scoring stats bind from
        the commit's retained stats tables, so answers are bitwise what the
        live index returned at capture time regardless of later appends /
        updates / deletes."""
        self.spark = spark
        self.index_dir = index_dir
        self.meta = IndexMeta.load(index_dir)
        self.analyzer = ANALYZERS[self.meta.analyzer]()
        self._commit = None
        self._stats_root = index_dir
        if commit is not None:
            from ..index.commits import load_commit

            self._commit = load_commit(index_dir, commit)
            self._stats_root = self._commit.stats_dir
        # the view's tombstone files (a directory listing at open, no read):
        # the commit's recorded list, else the index's current files; each
        # scoring task reads its own segment's through read_tombstones
        self._tomb_files = (
            self._commit.tomb_files if self._commit is not None
            else tombstone_files(index_dir)
        )
        # this view's segment table, read once: {seg: (base, n_docs)} in seg
        # (= base) order — the commit's segments at a commit point
        m = read_manifest(index_dir, None if self._commit is None else self._commit.segs)
        self.layout = {
            int(seg): (int(base), int(n))
            for seg, base, n in zip(m["seg"], m["base"], m["n_docs"])
        }
        # seg is the partition column — the isin folds to partition pruning,
        # so files of segments outside the view are never opened
        self.postings = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("seg").isin(list(self.layout))
        )
        # docs are stored with SEGMENT-LOCAL ids; expose the global view
        self.docs = global_docs(spark, index_dir, m).drop("doc_local")
        # filterCache (S/search/SolrIndexSearcher filterCache): fq → DocSet,
        # LRU under an entry + total-id budget; see filter_docset
        self._filter_cache: "OrderedDict[str, dict[int, np.ndarray]]" = OrderedDict()
        self._filter_cache_ids = 0
        self.filter_cache_stats = {"hits": 0, "misses": 0, "evictions": 0}
        # queryResultCache: query → cached ordered window; see cached_topk
        self._query_result_cache: "OrderedDict[str, tuple[int, list]]" = OrderedDict()
        self.query_result_cache_stats = {"hits": 0, "misses": 0, "evictions": 0}
        self._tables: dict[Similarity, np.ndarray] = {}
        # {term: (df, ttf)} bound from this view's term_stats, (0, 0) for an
        # absent term; see term_stats_rows
        self._term_stats: "OrderedDict[str, tuple[int, int]]" = OrderedDict()

    @cached_property
    def stats(self) -> CollectionStats:
        row = self.spark.read.parquet(os.path.join(self._stats_root, "stats")).collect()[0]
        return CollectionStats(int(row.doc_count), int(row.sum_ttf))

    def table(self, sim: Similarity) -> np.ndarray:
        """``sim``'s 256-entry norm table over this view's stats, built once
        per searcher and model."""
        if sim not in self._tables:
            self._tables[sim] = sim.table(self.stats)
        return self._tables[sim]

    def _segment_files(self, sources: tuple[PostingsSource, ...]) -> SegmentFiles:
        """What a scoring task needs besides the query: postings sources,
        this view's tombstone files and the key columns."""
        return SegmentFiles(
            index_dir=self.index_dir,
            sources=sources,
            bases={seg: base for seg, (base, _) in self.layout.items()},
            tomb_files=self._tomb_files,
            key_cols=tuple(self.meta.key_cols),
        )

    # --- per-segment term blooms (BloomFilteringPostingsFormat analog) ----

    @cached_property
    def _bloom_dir(self) -> str | None:
        from ..index.bloom import BLOOM_DIRNAME

        p = os.path.join(self.index_dir, BLOOM_DIRNAME)
        return p if glob.glob(os.path.join(p, "*", "*.parquet")) else None

    def by_base(self, doc_ids) -> dict[int, np.ndarray]:
        """Global doc ids as ``{segment base: sorted local ids}``, one entry
        per segment of this view — the ``filter_by_base`` shape."""
        gdocs = np.sort(np.fromiter(doc_ids, dtype=np.int64))
        return {
            base: gdocs[(gdocs >= base) & (gdocs < base + n)] - base
            for base, n in self.layout.values()
        }

    @cached_property
    def _bloom_driver(self) -> dict | None:
        """{seg: (m, packed bits)} when the whole sidecar fits the driver
        budget (the common case: ~64 KiB per 50k-term segment). Above the
        budget this stays None and ``bloom_live_segs`` probes DISTRIBUTED
        (one tiny mapInPandas job per new term set, bits never reach the
        driver)."""
        if self._bloom_dir is None:
            return None
        import pyarrow.parquet as _pq  # driver-read-ok (size-gated below)

        paths = sorted(glob.glob(os.path.join(self._bloom_dir, "*", "*.parquet")))
        if sum(os.path.getsize(p) for p in paths) > BLOOM_DRIVER_BUDGET:
            return None
        out = {}
        for p in paths:
            mseg = re.search(r"seg=(\d+)", p)
            if mseg is None:
                continue
            # bounded by the byte-budget check above (bits never exceed
            # BLOOM_DRIVER_BUDGET in total); above the budget the probe
            # runs distributed instead — see bloom_live_segs
            t = _pq.read_table(p)  # driver-read-ok
            out[int(mseg.group(1))] = (
                int(t["m"][0].as_py()),
                np.frombuffer(t["bits"][0].as_py(), dtype=np.uint8),
            )
        return out

    @cached_property
    def _bloom_cache(self) -> dict:
        return {}

    _BLOOM_CACHE_MAX = 256

    def bloom_live_segs(self, terms: list) -> list | None:
        """Sorted segment ids that MAY contain at least one of ``terms``
        per the bloom sidecars, or None when pruning is unavailable (no
        sidecar / no terms / term set too wide) or vacuous (every segment
        admitted). Segments without a bloom row are always admitted, so a
        partially-covered index (e.g. pre-upgrade segments) stays correct.
        False positives cost an extra scan; false negatives cannot happen
        (``index/bloom.py``), so pruning never changes results."""
        from ..index.bloom import bloom_admits

        if self._bloom_dir is None or not terms or len(terms) > BLOOM_MAX_TERMS:
            return None
        key = frozenset(terms)
        if key in self._bloom_cache:
            return self._bloom_cache[key]
        tl = sorted(key)
        if self._bloom_driver is not None:
            admitted = {
                seg
                for seg, (m, bits) in self._bloom_driver.items()
                if bloom_admits(bits, m, tl).any()
            }
            covered = set(self._bloom_driver)
        else:
            df = self.spark.read.parquet(self._bloom_dir)

            def probe(it):
                for pdf in it:
                    adm = [
                        bool(bloom_admits(b, int(m), tl).any())
                        for m, b in zip(pdf["m"], pdf["bits"])
                    ]
                    yield pd.DataFrame({
                        "seg": pdf["seg"].astype("int32"),
                        "admit": np.asarray(adm, dtype=bool),
                    })

            rows = df.mapInPandas(probe, "seg int, admit boolean").collect()
            admitted = {int(r.seg) for r in rows if r.admit}
            covered = {int(r.seg) for r in rows}
        # intersect with the layout: the sidecar may describe segments this
        # searcher cannot see (a commit-point view excludes later segments,
        # and a segment without a manifest marker is not committed)
        segs = set(self.layout)
        live = sorted((admitted & segs) | (segs - covered))
        out = live if len(live) < len(segs) else None
        if len(self._bloom_cache) >= self._BLOOM_CACHE_MAX:
            self._bloom_cache.pop(next(iter(self._bloom_cache)))
        self._bloom_cache[key] = out
        return out

    def _live_segs(self, q: CompiledQuery) -> list[int]:
        """The segments a query's scoring task visits: whole segments are
        skipped when every scoring term is bloom-rejected there. A pruned
        segment cannot produce a hit — every match needs at least one
        scoring term present — so this only skips provably-empty kernels
        (MUST_NOT / FILTER terms never gate admission)."""
        live = self.bloom_live_segs(list(q.scoring_terms))
        return list(self.layout) if live is None else live

    def term_stats_rows(self, terms: list[str]) -> tuple[dict[str, int], dict[str, int]]:
        """({term: df}, {term: ttf}) for the query's terms that occur
        (TermStates#build analog). Each term binds once per searcher: only
        terms this searcher has not looked up yet go to ONE term-pruned scan
        of the view's term_stats table, and a term found nowhere is
        remembered as absent, so a lookup of seen terms runs no Spark job."""
        cache, want = self._term_stats, dict.fromkeys(terms)
        missing = [t for t in want if t not in cache]
        if missing:
            found = (
                read_term_stats(self.spark, self._stats_root)
                .filter(F.col("term").isin(missing))
                .toArrow()
            )
            cache.update((t, (0, 0)) for t in missing)
            cache.update(zip(
                found["term"].to_pylist(),
                zip(found["df"].to_pylist(), found["ttf"].to_pylist()),
            ))
        got = {t: cache[t] for t in want}
        while len(cache) > TERM_STATS_CACHE_MAX:
            cache.popitem(last=False)
        return (
            {t: df for t, (df, _) in got.items() if df > 0},
            {t: ttf for t, (df, ttf) in got.items() if df > 0},
        )

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Global docFreq for the query's terms."""
        return self.term_stats_rows(terms)[0]

    def compile(
        self, spec: BooleanSpec, k: int = 10, similarity: Similarity = BM25
    ) -> CompiledQuery:
        df_map, ttf_map = self.term_stats_rows(spec.all_terms())
        return compile_query(
            spec, df_map, self.stats.doc_count, self.table(similarity), k,
            similarity=similarity, term_ttf=ttf_map,
            sum_ttf=self.stats.sum_total_term_freq,
        )

    def compile_many(self, specs: dict[str, tuple[BooleanSpec, int]]) -> dict[str, CompiledQuery]:
        """Compile a whole query set with at most ONE stats lookup job
        (TermStates for the union of the set's terms the searcher has not
        seen — the batched analog of ``IndexSearcher#createWeight`` per
        request)."""
        all_terms = sorted({t for spec, _ in specs.values() for t in spec.all_terms()})
        df_map = self.term_stats(all_terms)
        return {
            qid: compile_query(spec, df_map, self.stats.doc_count, self.table(BM25), k)
            for qid, (spec, k) in specs.items()
        }

    # --- filterCache (S/search/SolrIndexSearcher#getDocSet / filterCache) ---

    FILTER_CACHE_MAX_ENTRIES = 64
    FILTER_CACHE_ID_BUDGET = 1 << 22   # total cached doc ids across entries

    def filter_docset(self, spec: BooleanSpec) -> dict[int, np.ndarray]:
        """Solr filterCache analog: ``spec``'s unranked DocSet as a
        per-segment ``{base: sorted local ids}`` map, memoized per searcher
        (``S/search/SolrIndexSearcher#getDocSet`` backed by filterCache —
        a repeated ``fq`` pays its hits pass once per searcher lifetime).
        The map rides the query kernels as ``filter_by_base``: a
        non-scoring FILTER occur, candidates restricted BEFORE ranking,
        BM25 stats untouched.

        Scale honesty: the cached set is DRIVER-held, as Solr's
        filterCache is shard-heap-held — but one driver serves every
        segment, so the cache is budget-bounded (entry count + total ids,
        LRU): an fq whose DocSet exceeds the id budget is computed but NOT
        retained (the ``{!cache=false}`` shape). Selective fqs — the ones
        worth caching — fit by definition; filters over INDEXED keyword
        fields should keep using the posting-list FILTER path
        (``BooleanSpec.filter``, e.g. the ``ft_filter_topk`` entry), which
        never materializes a DocSet."""
        key = repr(spec)
        cached = self._filter_cache.get(key)
        if cached is not None:
            self._filter_cache.move_to_end(key)
            self.filter_cache_stats["hits"] += 1
            return cached
        self.filter_cache_stats["misses"] += 1
        rows = (
            self.hits(self.compile(spec, k=1 << 30), mode="exact")
            .select("doc_id").collect()
        )
        fbb = self.by_base(r.doc_id for r in rows)
        self._filter_cache_insert(key, fbb)
        return fbb

    # --- queryResultCache (S/search/SolrIndexSearcher queryResultCache) -----

    QUERY_RESULT_CACHE_MAX = 128
    QUERY_RESULT_WINDOW = 50   # solrconfig queryResultWindowSize

    def cached_topk(self, spec: BooleanSpec, k: int = 10, mode: str = "wand"):
        """queryResultCache analog: the ordered (doc_id, score) page for a
        query is memoized per searcher, with Solr's windowing rule — a miss
        computes and caches ceil-to-``queryResultWindowSize`` rows, so any
        subsequent request for the same query with k ≤ window is a pure
        cache hit served by slicing (``SolrIndexSearcher#getDocListC`` +
        ``queryResultWindowSize``). Returns a list of (doc_id, score)
        rows — the superset window is cached, the first k returned.

        Scale shape: O(window) driver rows per entry (Solr caches DocList
        pages exactly the same way); the distributed top-k only re-runs on
        a genuine miss."""
        key = f"{mode}|{repr(spec)}"
        win = self._query_result_cache.get(key)
        if win is not None and k <= win[0]:
            self._query_result_cache.move_to_end(key)
            self.query_result_cache_stats["hits"] += 1
            return win[1][:k]
        self.query_result_cache_stats["misses"] += 1
        w = self.QUERY_RESULT_WINDOW
        window_k = ((k + w - 1) // w) * w
        rows = [
            (int(r.doc_id), r.score)
            for r in self.search(spec, k=window_k, mode=mode).collect()
        ]
        self._query_result_cache[key] = (window_k, rows)
        while len(self._query_result_cache) > self.QUERY_RESULT_CACHE_MAX:
            self._query_result_cache.popitem(last=False)
            self.query_result_cache_stats["evictions"] += 1
        return rows[:k]

    def _filter_cache_insert(self, key: str, fbb: dict[int, np.ndarray]) -> None:
        """Shared budgeted insert for both filterCache faces (query DocSets
        and non-indexed filter maps): skip retention when the set alone
        exceeds the id budget ({!cache=false} shape), else LRU-evict down
        to the entry and total-id budgets with exact id accounting."""
        n_ids = sum(len(v) for v in fbb.values())
        if n_ids > self.FILTER_CACHE_ID_BUDGET:
            return
        self._filter_cache[key] = fbb
        self._filter_cache_ids += n_ids
        while (
            len(self._filter_cache) > self.FILTER_CACHE_MAX_ENTRIES
            or self._filter_cache_ids > self.FILTER_CACHE_ID_BUDGET
        ):
            _, old = self._filter_cache.popitem(last=False)
            self._filter_cache_ids -= sum(len(v) for v in old.values())
            self.filter_cache_stats["evictions"] += 1

    def parse(
        self, qtype: str, surface_terms: list[str], min_should: int = 0, slop: int = 0
    ) -> BooleanSpec:
        return parse_fixture_query(self.analyzer, qtype, surface_terms, min_should, slop=slop)

    def expand_terms(self, kind: str, pattern, max_expansions: int = 1024) -> list[str]:
        """MultiTermQuery rewrite (``L/search/MultiTermQuery#RewriteMethod``):
        expand a prefix/wildcard/regexp/fuzzy/set pattern against the term
        dictionary into a sorted term list (SCORING_BOOLEAN_REWRITE).
        Wildcards use SQL LIKE syntax (%/_) — the Spark-native analog of
        Lucene's */? automata; fuzzy = Levenshtein distance (the edit-distance
        semantics behind ``FuzzyQuery``'s Levenshtein automaton)."""
        from ..index.build import KEYWORD_PREFIX

        ts = (
            read_term_stats(self.spark, self._stats_root)
            .filter(~F.col("term").startswith(KEYWORD_PREFIX))  # internal terms
        )
        if kind == "prefix":
            cond = F.col("term").startswith(pattern)
        elif kind == "wildcard":
            cond = F.col("term").like(pattern)
        elif kind == "regexp":
            cond = F.col("term").rlike(f"^(?:{pattern})$")
        elif kind == "fuzzy":
            term, max_edits = pattern
            cond = F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
        elif kind == "fuzzy_osa":
            # FuzzyQuery's DEFAULT (transpositions=true): edit distance is
            # optimal string alignment — a transposition counts ONE edit
            # (``L/search/FuzzyQuery.java`` defaultTranspositions,
            # ``L/util/automaton/LevenshteinAutomata`` withTranspositions).
            # Spark has no OSA builtin: the dictionary is prefiltered with a
            # JVM levenshtein <= 2·maxEdits superset scan (a transposition
            # costs <= 2 plain edits), and the small candidate list is
            # OSA-refined driver-side — the same bounded collect every
            # MultiTermQuery rewrite already performs. At maxEdits <= 1 the
            # OSA / unrestricted-Damerau distinction is vacuous (a single
            # edit is identical in both); >= 2 diverges only on overlapping
            # edits (documented).
            term, max_edits = pattern
            rows = (
                ts.filter(
                    F.levenshtein(F.col("term"), F.lit(term)) <= 2 * max_edits
                )
                .select("term").orderBy("term").limit(4 * max_expansions)
                .collect()
            )
            out = [
                t.term for t in rows if _osa_distance(t.term, term) <= max_edits
            ]
            return out[:max_expansions]
        elif kind == "leading_wildcard":
            # ReversedWildcardFilter (``S/analysis/ReversedWildcardFilterFactory``):
            # a leading wildcard ``*<suffix>`` is a PREFIX query on the
            # reversed dictionary sidecar (written by _finalize, sorted +
            # range-partitioned on rterm) — the StartsWith predicate pushes
            # to the parquet scan and min/max stats prune whole files, vs
            # the full-dictionary LIKE '%suffix' scan a naive leading
            # wildcard forces.
            ts = (
                self.spark.read.parquet(os.path.join(self._stats_root, "term_stats_rev"))
                .filter(~F.col("term").startswith(KEYWORD_PREFIX))
            )
            cond = F.col("rterm").startswith(pattern[::-1])
        elif kind == "set":
            cond = F.col("term").isin(list(pattern))
        elif kind == "range":
            # TermRangeQuery (``L/search/TermRangeQuery``): lexicographic
            # [lo, hi) over the term dictionary — includeLower=true,
            # includeUpper=false (the BytesRef compare, here UTF-8 string
            # order); None on either side = open-ended
            lo, hi = pattern
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("term") >= lo)
            if hi is not None:
                cond = cond & (F.col("term") < hi)
        elif kind == "phonetic":
            # PhoneticFilter/Soundex expansion (analysis/phonetic.py): the
            # dictionary term's code equals any query token's code — the
            # code column is pure JVM expressions (translate/regexp chain)
            from ..analysis.phonetic import soundex, soundex_spark_col

            codes = sorted({soundex(tok) for tok in pattern})
            cond = soundex_spark_col(F.col("term")).isin(codes)
        else:
            raise ValueError(f"unknown multiterm kind {kind!r}")
        rows = ts.filter(cond).select("term").orderBy("term").limit(max_expansions).collect()
        return [r.term for r in rows]

    def multiterm_spec(self, kind: str, pattern, max_expansions: int = 1024) -> BooleanSpec:
        from .query import TermClause

        return BooleanSpec(should=[TermClause(t) for t in self.expand_terms(kind, pattern, max_expansions)])

    def more_like_this_spec(self, text: str, top_terms: int = 5) -> BooleanSpec:
        """``lucene/queries/.../mlt/MoreLikeThis`` — rank the doc's terms by
        classic tf·idf (idf = ln(N/(df+1)) + 1, ClassicSimilarity-style),
        keep the top ``top_terms`` (score desc, term asc), and build the
        interesting-terms disjunction."""
        from .query import TermClause

        scored = self.more_like_this_terms(text, top_terms)
        return BooleanSpec(should=[TermClause(t) for t, _ in scored])

    def more_like_this_terms(
        self, text: str, top_terms: int = 5
    ) -> list[tuple[str, float]]:
        """The MLT interesting-terms list WITH scores —
        ``MoreLikeThis#retrieveInterestingTerms``: [(term, tf·idf)] by
        (score desc, term asc), top ``top_terms``."""
        import math
        from collections import Counter

        tf = Counter(t for t, _ in self.analyzer.analyze(text))
        dfs = self.term_stats(sorted(tf))
        n = self.stats.doc_count
        scored = [
            (float(c) * (math.log(n / (dfs[t] + 1.0)) + 1.0), t)
            for t, c in tf.items() if dfs.get(t, 0) > 0
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        return [(t, sc) for sc, t in scored[:top_terms]]

    def explain(self, spec: BooleanSpec, global_doc_id: int) -> pd.DataFrame:
        """``IndexSearcher#explain`` / Solr debugQuery analog: the per-clause
        BM25 breakdown for ONE (query, doc) — term, docFreq, idf, termFreq,
        doc length, and the clause score, using the exact float32 op order
        the kernels use. Reads only the doc's segment (partition-pruned) and
        only the query's terms (term-pruned scan)."""
        from ..index.codec import decode_postings
        from .bm25 import score_postings

        q = self.compile(spec, k=1)
        seg, base = next(
            ((s, b) for s, (b, n) in self.layout.items() if b <= global_doc_id < b + n),
            (None, None),
        )
        if seg is None:
            raise ValueError(f"doc {global_doc_id} out of range")
        local = global_doc_id - base
        drow = (
            self.docs.filter(F.col("doc_id") == global_doc_id)
            .select("length", "norm").collect()[0]
        )
        terms = q.scoring_terms
        posts = (
            self.postings.filter((F.col("seg") == seg) & (F.col("term").isin(terms)))
            .select("term", "blocks").toArrow()
        )
        blocks_by_term = dict(zip(posts["term"].to_pylist(), posts["blocks"].to_pylist()))
        df_map = self.term_stats(terms)
        rows = []
        for c in q.clauses:
            if c.kind != "term":
                continue  # explain covers term clauses (Lucene per-leaf TermQuery)
            t = c.terms[0]
            docs_t, tfs_t = decode_postings(blocks_by_term.get(t, []))[:2]
            i = np.searchsorted(docs_t, local)
            tf = int(tfs_t[i]) if i < len(docs_t) and docs_t[i] == local else 0
            score = (
                float(score_postings(
                    np.array([tf]), np.array([drow.norm]), c.weight, q.cache
                )[0]) if tf > 0 else 0.0
            )
            rows.append({
                "term": t,
                "df": int(df_map.get(t, 0)),
                "idf": float(np.float32(c.weight)),  # boost=1 ⇒ weight == idf
                "tf": tf,
                "doc_len": int(drow.length),
                "clause_score": np.float32(score),
            })
        return pd.DataFrame(sorted(rows, key=lambda r: r["term"]))

    def termfreq_df(self, term: str) -> DataFrame:
        """``termfreq(field, term)`` ValueSource as a (doc_id, tf) DataFrame:
        one term-pruned postings scan, decode-only kernel (no norms, no
        weights). Tombstoned docs are excluded, each task reading its
        segments' deletes through read_tombstones. Docs without the term are
        simply absent (left-join + coalesce(0) at the consumer)."""
        from ..index.codec import decode_postings

        index_dir, tomb_files, layout = self.index_dir, self._tomb_files, self.layout

        def kern(iterator):
            for pdf in iterator:
                for seg, blocks in zip(pdf["seg"], pdf["blocks"]):
                    docs, tfs = decode_postings(list(blocks))[:2]
                    d = read_tombstones(index_dir, int(seg), tomb_files)
                    if d is not None:
                        keep = ~np.isin(docs, d, assume_unique=True)
                        docs, tfs = docs[keep], tfs[keep]
                    yield pd.DataFrame({
                        "doc_id": docs + layout[int(seg)][0],
                        "tf": tfs,
                    })

        posts = (
            self.postings.filter(F.col("term") == F.lit(term))
            .select("seg", "blocks")
        )
        return posts.mapInPandas(kern, "doc_id long, tf long")

    def termfreq_topk(self, term: str, k: int = 10) -> DataFrame:
        """Function query as THE ranking function (``S/search/
        ValueSourceParser`` / ``lucene/queries/function`` — here
        ``termfreq(field, term)``): docs ordered by raw term frequency
        instead of BM25, global TakeOrdered — the same sublinear shape as a
        scored search."""
        return ranked_top(self.termfreq_df(term), k, F.desc("tf"), F.asc("doc_id"))

    def filter_map(self, keys: DataFrame) -> dict[int, np.ndarray]:
        """Compile a doc-key filter into per-segment allowed-local-ID sets —
        the Spark shape of Lucene's cached per-leaf filter DocIdSet: the
        keyword predicate is evaluated ONCE against the docs table (pruned
        columnar scan), collected as sorted local ids keyed by segment base,
        and broadcast to the scoring kernels inside the query closure.
        Sized for selective filters (the useful kind — an unselective filter
        should be a post-scan `.filter`); a high-cardinality/unselective
        predicate at 10^12-doc scale belongs in a keyword-field posting list
        joined segment-side instead of collected."""
        rows = (
            self.docs.join(F.broadcast(keys), list(keys.columns))
            .select("doc_id").collect()
        )
        return self.by_base(r.doc_id for r in rows)

    def cached_filter_map(
        self, keys: DataFrame, cache_key: str
    ) -> dict[int, np.ndarray]:
        """Solr filterCache analog (``S/search/SolrIndexSearcher`` filterCache
        / ``L/search/LRUQueryCache``): the per-segment allowed-doc sets a
        non-indexed filter compiles to are memoized by ``cache_key`` for the
        searcher's lifetime — repeated fq's skip the evaluation pass
        entirely, exactly like the reference caching a filter's DocSet per
        reader (this searcher IS one reader: the cache never outlives the
        index view it was computed against). Bounded FIFO eviction keeps
        driver memory O(CACHE_MAX · matched docs)."""
        hit = self._filter_cache.get(cache_key)
        if hit is not None:
            self._filter_cache.move_to_end(cache_key)
            self.filter_cache_stats["hits"] += 1
            return hit
        self.filter_cache_stats["misses"] += 1
        out = self.filter_map(keys)
        self._filter_cache_insert(cache_key, out)
        return out

    def search(
        self,
        spec: BooleanSpec | CompiledQuery,
        k: int = 10,
        mode: str = "wand",
        with_keys: bool = False,
        after: tuple | None = None,
        filter_by_base: dict[int, np.ndarray] | None = None,
    ) -> DataFrame:
        """Top-k → DataFrame(doc_id, score[, key cols], rank) in rank order.
        The scoring stage runs here and ``merge_top`` merges its rows on the
        driver; the page comes back as a LocalRelation.

        mode: 'wand' (block-max pruning; phrase clauses fall back to exact
        automatically) or 'exact' (brute force — the distributed oracle).
        after: (score, doc_id) cursor for searchAfter paging — returns the
        next k hits strictly after the cursor in (score desc, doc asc)."""
        q = spec if isinstance(spec, CompiledQuery) else self.compile(spec, k)
        if filter_by_base is not None:
            # never mutate a caller-supplied CompiledQuery (it may be shared
            # across searches via compile_many) — bind the filter on a copy
            import dataclasses

            q = dataclasses.replace(q, filter_by_base=filter_by_base)
        hits = self.hits(q, mode=mode, after=after, with_keys=with_keys)
        top = merge_top(_collect(hits), q.k)
        return local_frame(self.spark, StructType([*hits.schema.fields, _RANK]), top)

    def hits(
        self,
        q: CompiledQuery,
        mode: str = "wand",
        after: tuple | None = None,
        with_keys: bool = False,
        sources: tuple[PostingsSource, ...] | None = None,
    ) -> DataFrame:
        """Matching hits as an UNRANKED DataFrame(doc_id, score[, key cols])
        — each segment's top-``q.k`` (every match for the ``k=1 << 30``
        roll-up callers), from ONE mapInArrow stage over the bloom-admitted
        segments; no global sort. The building block for roll-ups (block
        join, grouping) that aggregate hits without needing a total order;
        ``search`` merges the same stage's rows on the driver. ``with_keys``
        fetches the key columns of the segment-local survivors inside the
        task; ``sources`` replaces this index's own postings (default: the
        query's scoring + MUST_NOT terms)."""
        schema = StructType(list(_HIT_FIELDS))
        if with_keys:
            for c in self.meta.key_cols:
                schema.add(self.docs.schema[c])
        if not q.clauses:
            return local_frame(self.spark, schema)
        if sources is None:
            terms = tuple(q.scoring_terms) + tuple(q.must_not_terms)
            sources = (PostingsSource(self.index_dir, terms),)
        return segment_scan(
            self.spark, self._live_segs(q),
            _hits_task(self._segment_files(sources), q, mode, after, with_keys),
            schema,
        )

    def total_hits(self, spec: BooleanSpec | CompiledQuery, threshold: int = 1000) -> tuple[int, str]:
        """``TotalHits`` — (value, relation). Counts matching docs with the
        non-scoring count kernel (TotalHitCountCollector analog: one
        per-segment doc-level count, summed on the driver — one scoring
        stage, no norms math, no top-k). Lucene reports an exact count up to
        a threshold and a lower bound beyond it
        (``TotalHits.Relation.GREATER_THAN_OR_EQUAL_TO``); deterministically:
        value = min(exact, threshold), relation = 'EQ' | 'GTE'."""
        q = spec if isinstance(spec, CompiledQuery) else self.compile(spec, 1)
        if not q.clauses:
            return 0, "EQ"
        terms = tuple(q.scoring_terms) + tuple(q.must_not_terms)
        files = self._segment_files((PostingsSource(self.index_dir, terms),))
        rows = segment_scan(
            self.spark, self._live_segs(q), _count_task(files, q),
            StructType([StructField("cnt", LongType())]),
        ).collect()  # one row per segment
        total = sum(int(r.cnt) for r in rows)
        if total <= threshold:
            return total, "EQ"
        return threshold, "GTE"

    def hits_many(
        self, compiled: dict[str, CompiledQuery], mode: str = "wand"
    ) -> DataFrame:
        """A whole query set's hits as an UNRANKED DataFrame(query_id,
        doc_id, score) — each segment's top-``q.k`` per query (every match
        for ``k=1 << 30``), from ONE scoring stage over every segment; the
        ``hits`` analog of ``search_many``, for callers that want matches,
        not a ranking."""
        terms = sorted({
            t for q in compiled.values()
            for t in (*q.scoring_terms, *q.must_not_terms)
        })
        if not terms:
            return local_frame(self.spark, _MULTI_SCHEMA)
        files = self._segment_files((PostingsSource(self.index_dir, tuple(terms)),))
        return segment_scan(
            self.spark, list(self.layout), _multi_task(files, compiled, mode),
            _MULTI_SCHEMA,
        )

    def search_many(
        self, compiled: dict[str, CompiledQuery], mode: str = "wand"
    ) -> DataFrame:
        """Run a whole query set in ONE job: per-segment top-k per query in
        the scoring stage, then each query's ``merge_top`` on the driver.
        → DataFrame(query_id, rank, doc_id, score) in (query_id, rank)
        order."""
        hits = self.hits_many(compiled, mode)
        top = merge_top(_collect(hits), {qid: q.k for qid, q in compiled.items()})
        return local_frame(self.spark, _MANY_SCHEMA, top.select(_MANY_SCHEMA.names))
