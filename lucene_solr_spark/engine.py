"""High-level facade: build + search a full-text index over any DataFrame —
the ``IndexWriter``/``IndexSearcher`` pair a Solr user actually touches
(reference: ``S/handler/component/SearchHandler`` request lifecycle,
SURVEY.md §3).

``DocumentsEngine`` wraps the driver-provided ``documents`` parquet table
(columns doc_id, text, lang, source, n_chars). ``get_engine(spark, sf_dir,
analyzer, recipe)`` is the one constructor: an ``IndexRecipe`` says how the
index derives from the table — an optional derived text field, an optional
row filter, the segment count, and an ordered tuple of mutation steps
(update, expunge, commit point, delete-by-query, atomic update, RTG append,
docvalues update). The recipe's hash names a content-addressed cache dir
under ``/tmp`` and keys the process-level memo, so the driver's many
``queries()`` calls never rebuild.

A step-free recipe builds with checkpoint/resume (the manifest marker is the
commit point). A recipe with steps copies its step-free base index into a
private temp dir, applies the steps there and publishes the result with one
completion marker + an atomic rename (``_publish``): a crash mid-step leaves
the published tree absent, never half-mutated.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass, replace

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .index.build import build_index, read_term_stats
from .search.bm25 import BM25, OMIT_NORMS
from .search.query import BooleanSpec, CompiledQuery
from .search.searcher import IndexSearcher, ranked_top
from .util.segscan import local_frame

# content-addressed index dir → its engine (or searcher / searcher list)
_ENGINES: dict[str, object] = {}


@dataclass(frozen=True)
class IndexRecipe:
    """How a documents index derives from ``documents.parquet``.

    ``text_expr`` indexes a derived field (Spark SQL over the doc_key-renamed
    columns) as ITS OWN field — separate postings, norms, stats;
    ``row_filter`` keeps a row subset (the predicate pushes to the parquet
    scan); ``steps`` names mutations from ``_STEPS`` applied in order after
    the build. The repr is hashed into the cache-dir tag."""

    text_expr: str | None = None
    row_filter: str | None = None
    n_segments: int = 8
    steps: tuple[str, ...] = ()


BASE = IndexRecipe()


def _memo(key: str, make: Callable[[], object]):
    hit = _ENGINES.get(key)
    if hit is None:
        hit = _ENGINES[key] = make()
    return hit


def _cache_dir(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), "lucene_solr_spark_idx", name)


def _recipe_dir(sf_dir: str, analyzer: str, recipe: IndexRecipe) -> str:
    src = os.path.join(sf_dir, "documents.parquet")
    # bump the version token whenever the on-disk index format changes
    # (cache dirs are content-addressed; a stale format must not resume)
    tag = hashlib.md5(
        f"{os.path.abspath(src)}|{os.path.getmtime(src)}|{analyzer}|{recipe!r}|v9".encode()
    ).hexdigest()[:16]
    return _cache_dir(f"docs-{analyzer}-{tag}")


PUBLISHED = "_published"   # the one completion marker of a published tree


def _publish(dst: str, build: Callable[[str], None]) -> str:
    """Materialize ``dst`` once: ``build`` fills a private temp dir, ONE
    completion marker is written last, and an atomic rename publishes it.
    A crash leaves no ``dst`` (its temp dir is discarded), so a retry
    starts clean instead of re-applying steps to a half-mutated tree.

    Publishers serialize on ``dst``.lock for the rename only. When the
    rename fails, the marker is re-checked before anything is deleted: a
    concurrent winner's complete tree is kept (ours is dropped); only a
    marker-less tree left by a dead writer is replaced."""
    marker = os.path.join(dst, PUBLISHED)
    if os.path.exists(marker):
        return dst
    tmp = f"{dst}.tmp.{os.getpid()}.{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        with open(os.path.join(tmp, PUBLISHED), "w") as f:
            f.write("done")
        with open(dst + ".lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released on close
            try:
                os.rename(tmp, dst)
            except OSError:
                if not os.path.exists(marker):
                    shutil.rmtree(dst)
                    os.rename(tmp, dst)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


def get_engine(
    spark: SparkSession, sf_dir: str, analyzer: str = "simple",
    recipe: IndexRecipe = BASE,
) -> DocumentsEngine:
    """The engine for (table, analyzer, recipe), built on first use and
    memoized per content-addressed index dir."""
    return _memo(
        _recipe_dir(sf_dir, analyzer, recipe),
        lambda: DocumentsEngine(spark, sf_dir, analyzer, recipe),
    )


def _present(out: DataFrame, score: str = "score") -> DataFrame:
    """A rank-ordered page (``ranked_top`` or ``IndexSearcher.search``) as
    (rank int, doc_id bigint, score float), keyed on the SOURCE doc id
    (``doc_key``). A projection keeps the rows' order, so no sort: over a
    searcher's LocalRelation page the result still collects without a job."""
    return out.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("doc_key").cast("long").alias("doc_id"),
        F.col(score).cast("float").alias("score"),
    )


class DocumentsEngine:
    """Index + search over a ``documents``-shaped table (doc_id, text);
    construct through ``get_engine``."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        analyzer: str = "simple",
        recipe: IndexRecipe = BASE,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.analyzer = analyzer
        self.index_dir = _recipe_dir(sf_dir, analyzer, recipe)
        commit = None
        if recipe.steps:

            def mutate(tmp: str) -> None:
                base = get_engine(spark, sf_dir, analyzer, replace(recipe, steps=()))
                # the shared base tree is never mutated: steps run on a copy
                shutil.copytree(base.index_dir, tmp)
                for step in recipe.steps:
                    _STEPS[step](spark, sf_dir, tmp)

            _publish(self.index_dir, mutate)
            if "commit_point" in recipe.steps:
                from .index.commits import list_commits

                # time travel: open AT the commit the recipe captured
                commit = list_commits(self.index_dir)[0]
        else:
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
                F.col("doc_id").alias("doc_key"), "source", "lang", "text"
            )
            if recipe.row_filter is not None:
                docs = docs.filter(F.expr(recipe.row_filter))
            if recipe.text_expr is not None:
                docs = docs.withColumn("text", F.expr(recipe.text_expr))
            build_index(
                spark,
                docs,
                self.index_dir,
                key_cols=("doc_key",),
                text_col="text",
                analyzer=analyzer,
                positions=True,
                n_segments=recipe.n_segments,
                resume=True,
                keyword_cols=("source", "lang"),
            )
        self.searcher = IndexSearcher(spark, self.index_dir, commit=commit)

    # -- query helpers ------------------------------------------------------

    def topk(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
        min_should: int = 0,
        mode: str = "wand",
        slop: int = 0,
    ) -> DataFrame:
        """Top-k of a FIXTURES.md query shape (``searcher.parse``) through
        ``ranked``."""
        spec = self.searcher.parse(qtype, surface_terms, min_should, slop=slop)
        return self.ranked(spec, k=k, mode=mode)

    def ranked(
        self, spec: BooleanSpec | CompiledQuery, k: int = 10, mode: str = "wand",
    ) -> DataFrame:
        """The one search tail: a spec (or an already compiled query, which
        carries its own k) → DataFrame(rank int, doc_id bigint, score float)
        keyed on the SOURCE doc_id (fetch-fields-late: the scoring task reads
        its survivors' keys)."""
        return _present(self.searcher.search(spec, k=k, mode=mode, with_keys=True))

    def phrase_prefix_topk(
        self, surfaces: list[str], prefix: str, k: int = 10,
        max_expansions: int = 50,
    ) -> DataFrame:
        """Phrase-prefix top-k (``L/search/PhraseWildcardQuery`` — the
        match_phrase_prefix / autocomplete shape): leading slots are the
        analyzed surface terms; the LAST slot is the term-dictionary prefix
        expansion (sorted, capped at ``max_expansions``), and the whole
        thing scores as a MultiPhraseQuery over the expanded term set.

        Scale shape: the expansion is one pruned scan of the small
        term_stats table; the positional verify joins only the expanded
        terms' postings (term-IN-list pushdown like every other query)."""
        from .search.query import BooleanSpec, MultiPhraseClause

        head = tuple(
            (self.searcher.analyzer.analyze(s)[0][0],) for s in surfaces
        )
        expanded = tuple(
            self.searcher.expand_terms("prefix", prefix, max_expansions)
        )
        slots = head + (expanded,)
        spec = BooleanSpec(must=[MultiPhraseClause(
            slots, tuple(range(len(slots)))
        )])
        return self.ranked(spec, k, mode="exact")

    def complex_phrase_topk(
        self, query: str, k: int = 10, max_expansions: int = 50,
    ) -> DataFrame:
        """ComplexPhraseQueryParser top-k (``L/queryparser/complexPhrase/
        ComplexPhraseQueryParser.java``): a quoted phrase whose words may be
        wildcards at ANY position — ``"d?ta s*"`` — each wildcard word is
        rewritten against the term dictionary (sorted, capped at
        ``max_expansions``, the MultiTermQuery rewrite) and the whole phrase
        scores as one MultiPhraseQuery, exactly upstream's rewrite target.
        Generalizes ``phrase_prefix_topk`` (last-slot-only) to arbitrary
        slots.

        Scale shape identical to every positional query: expansions are
        pruned scans of the small term_stats table; the positional verify
        joins only the expanded terms' postings (term-IN-list pushdown)."""
        from .search.query import BooleanSpec, MultiPhraseClause

        slots = []
        for kind, val in complex_phrase_parts(query, self.searcher.analyzer):
            if kind == "like":
                slots.append(tuple(self.searcher.expand_terms(
                    "wildcard", val, max_expansions
                )))
            else:
                slots.append((val,))
        spec = BooleanSpec(must=[MultiPhraseClause(
            tuple(slots), tuple(range(len(slots)))
        )])
        return self.ranked(spec, k, mode="exact")

    def fq_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        fq_qtype: str,
        fq_terms: list[str],
        k: int = 10,
    ) -> DataFrame:
        """Top-k with an arbitrary-query ``fq`` served through the
        filterCache (``S/search/SolrIndexSearcher#getDocSet``): the fq's
        DocSet is computed once per searcher (unranked hits pass), cached
        under the LRU budget, and rides the main query's kernels as a
        non-scoring FILTER — candidates restricted before ranking, BM25
        scores and stats unchanged. A repeated fq is a cache hit: zero
        extra jobs beyond the main query (``searcher.filter_docset``)."""
        s = self.searcher
        fbb = s.filter_docset(s.parse(fq_qtype, fq_terms, 0))
        out = s.search(
            s.parse(qtype, surface_terms, 0), k=k, with_keys=True,
            filter_by_base=fbb,
        )
        return _present(out)

    DOCUMENT_CACHE_MAX = 512   # solrconfig documentCache size

    def fetch_stored(self, doc_keys: list[int]) -> dict[int, tuple]:
        """documentCache analog (``solrconfig.xml`` documentCache /
        ``SolrIndexSearcher#doc``): stored fields (source, lang, text) for
        presented pages, memoized per engine under an LRU entry budget.
        Misses fetch in ONE doc_id-IN-pruned scan of the source table (the
        fetch-fields-late discipline — only the page's rows ever read);
        repeated pages (paging, reranking the same window, MLT re-asks)
        skip the scan entirely."""
        if not hasattr(self, "_document_cache"):
            from collections import OrderedDict

            self._document_cache: "OrderedDict[int, tuple]" = OrderedDict()
            self.document_cache_stats = {"hits": 0, "misses": 0, "evictions": 0}
        out: dict[int, tuple] = {}
        missing = []
        for d in doc_keys:
            hit = self._document_cache.get(d)
            if hit is not None:
                self._document_cache.move_to_end(d)
                self.document_cache_stats["hits"] += 1
                out[d] = hit
            else:
                missing.append(d)
        if missing:
            self.document_cache_stats["misses"] += len(missing)
            src = os.path.join(self.sf_dir, "documents.parquet")
            rows = (
                self.spark.read.parquet(src)
                .filter(F.col("doc_id").isin(missing))
                .select("doc_id", "source", "lang", "text")
                .collect()
            )
            for r in rows:
                tup = (r.source, r.lang, r.text)
                self._document_cache[int(r.doc_id)] = tup
                out[int(r.doc_id)] = tup
            while len(self._document_cache) > self.DOCUMENT_CACHE_MAX:
                self._document_cache.popitem(last=False)
                self.document_cache_stats["evictions"] += 1
        return out

    def topk_fetch(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
    ) -> DataFrame:
        """Top-k page presented WITH stored fields served through the
        documentCache (``fetch_stored``): rank/score from the standard
        search, (source, lang) decorated from the cache — the documentCache
        sits exactly where Solr's does, between the DocList and the
        response writer."""
        page = self.topk(qtype, surface_terms, k=k).collect()
        stored = self.fetch_stored([int(r.doc_id) for r in page])
        return local_frame(
            self.spark,
            "rank int, doc_id long, score float, source string, lang string",
            [
                (int(r.rank), int(r.doc_id), float(r.score),
                 stored[int(r.doc_id)][0], stored[int(r.doc_id)][1])
                for r in page
            ],
        )

    def qrc_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
    ) -> DataFrame:
        """Top-k served THROUGH the queryResultCache (``searcher.cached_topk``):
        the first ask computes and caches the ceil-to-window page, the
        returned page is the second ask — a pure cache hit — so the driver
        gate certifies the cached path end-to-end (a stale or mis-sliced
        window goes hash-red)."""
        s = self.searcher
        spec = s.parse(qtype, surface_terms, 0)
        s.cached_topk(spec, k=k)           # prime: miss fills the window
        rows = s.cached_topk(spec, k=k)    # served page: a cache hit
        page = local_frame(
            self.spark, "rank int, doc_id long, score float",
            [(i + 1, d, float(sc)) for i, (d, sc) in enumerate(rows)],
        )
        return _present(
            page.join(s.docs.select("doc_id", "doc_key"), "doc_id")
        ).orderBy("rank")

    def join_filter_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        inner_qtype: str,
        inner_terms: list[str],
        from_col: str = "source",
        to_col: str = "source",
        k: int = 10,
    ) -> DataFrame:
        """Query-time join as a FILTER — Solr ``{!join from= to=}`` /
        ``lucene/join/.../JoinUtil.java#createJoinQuery`` with
        ``ScoreMode.None``: the outer query ranks docs whose ``to_col``
        value appears among the DISTINCT ``from_col`` values of docs
        matching the inner query. Like the reference (which gathers the
        from-terms into a TermsInSetQuery via one collector pass), the
        gathered value set is bounded by the join field's cardinality, not
        the corpus: the inner query runs as an UNRANKED distributed hits
        pass, joins the docs map for ``from_col`` (fetch-fields-late), and
        only the distinct values cross to the driver. They re-enter the
        outer query as ONE weight-0 disjunctive FILTER clause over the
        keyword-field posting lists (``index/build.keyword_term``) — the
        TermsInSetQuery-under-FILTER shape, fully distributed, zero score
        contribution, rides WAND with 0 block bounds."""
        from .index.build import keyword_term
        from .search.query import OrGroupClause

        inner = self.searcher.parse(inner_qtype, inner_terms, 0)
        # ALL inner matches (unranked exact pass — WAND's top-k pruning would
        # drop matching from-docs and shrink the gathered value set)
        inner_hits = self.searcher.hits(
            self.searcher.compile(inner, k=1 << 30), mode="exact"
        )
        vals = sorted(
            r[0]
            for r in inner_hits.join(
                self.searcher.docs.select("doc_id", from_col), "doc_id"
            ).select(from_col).distinct().collect()
        )
        spec = self.searcher.parse(qtype, surface_terms, 0)
        # empty join set ⇒ OrGroup with no live members ⇒ matches nothing
        # (JoinUtil returns a no-match query for an empty from-term set)
        spec.filter.append(OrGroupClause(
            tuple(keyword_term(to_col, v) for v in vals)
        ))
        return self.ranked(spec, k)

    def join_score_topk(
        self,
        inner_qtype: str,
        inner_terms: list[str],
        from_col: str = "source",
        to_col: str = "source",
        k: int = 10,
    ) -> DataFrame:
        """Query-time scoring join — ``JoinUtil#createJoinQuery`` with
        ``ScoreMode.Max`` (Solr ``{!join score=max}``): every doc whose
        ``to_col`` value appears among the from-values scores the MAX inner
        BM25 score over the from-docs sharing that value. f32 max is
        summation-order independent, so the distributed aggregate is
        bitwise-deterministic.

        Scale shape: inner unranked hits → join-key max aggregate (ONE
        partial+final hash-agg, output bounded by join-field cardinality)
        → broadcast back onto the docs map → ONE TakeOrdered. No driver
        collect of doc sets anywhere."""
        inner = self.searcher.parse(inner_qtype, inner_terms, 0)
        # ALL inner matches (unranked exact pass — WAND's top-k pruning would
        # drop matching from-docs and shrink the gathered value set)
        inner_hits = self.searcher.hits(
            self.searcher.compile(inner, k=1 << 30), mode="exact"
        )
        key_scores = (
            inner_hits.join(
                self.searcher.docs.select("doc_id", from_col), "doc_id"
            )
            .groupBy(from_col)
            .agg(F.max("score").alias("jscore"))
            .withColumnRenamed(from_col, "_jkey")
        )
        joined = (
            self.searcher.docs.select("doc_id", "doc_key", F.col(to_col))
            .join(F.broadcast(key_scores), F.col(to_col) == F.col("_jkey"))
        )
        return _present(
            ranked_top(joined, k, F.desc("jscore"), F.asc("doc_id")), score="jscore"
        )

    def span_near_topk(
        self, surface0: str, surface1: str, slop: int, k: int = 10
    ) -> DataFrame:
        """SpanNearQuery top-k (``L/search/spans/SpanNearQuery`` inOrder=true
        over two term spans → ``NearSpansOrdered``): docs where the second
        term follows the first within ``slop`` intervening positions; span
        freq = Σ 1/(1+width) over the per-start minimal spans
        (``SpanScorer#setFreqCurrentDoc`` + computeSlopFactor); weight =
        Σ idf over both terms (SpanWeight#buildSimWeight), BM25 on the
        float freq.

        Scale shape: identical to the phrase top-k path — term-pruned
        postings scan, per-segment exact kernel with the packed-key
        vectorized span matcher (no per-doc loop), ONE TakeOrdered."""
        from .search.query import SpanNearClause

        t0 = self.searcher.analyzer.analyze(surface0)[0][0]
        t1 = self.searcher.analyzer.analyze(surface1)[0][0]
        spec = BooleanSpec(must=[SpanNearClause((t0, t1), int(slop))])
        return self.ranked(spec, k)

    def explain(self, qtype: str, surface_terms: list[str], src_doc_id: int) -> DataFrame:
        """``IndexSearcher#explain`` / Solr debugQuery: per-term BM25 score
        breakdown for one (query, doc) — keyed on the SOURCE doc_id."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        gid = int(
            self.searcher.docs.filter(F.col("doc_key") == src_doc_id)
            .select("doc_id").collect()[0].doc_id
        )
        pdf = self.searcher.explain(spec, gid)
        return local_frame(
            self.spark,
            "term string, df long, idf float, tf long, doc_len long, clause_score float",
            pdf.itertuples(index=False),
        )

    def mlt_topk(self, src_doc_id: int, top_terms: int = 5, k: int = 10) -> DataFrame:
        """MoreLikeThis: interesting-terms disjunction of doc ``src_doc_id``,
        excluding the source doc itself. The source text is fetched with a
        PRUNED Spark read (predicate pushdown to the parquet scan — one row,
        one column crosses to the driver; never a full-table read)."""
        text = (
            self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") == F.lit(src_doc_id))
            .select("text")
            .head()
            .text
        )
        spec = self.searcher.more_like_this_spec(text, top_terms)
        out = self.searcher.search(spec, k=k + 1, with_keys=True)
        # re-rank the ≤k surviving rows
        survivors = out.filter(F.col("doc_key") != src_doc_id).drop("rank")
        return _present(ranked_top(survivors, k, F.desc("score"), F.asc("doc_id")))

    def highlight_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
        min_should: int = 0,
        window: int = 8,
    ) -> DataFrame:
        """Top-k with a best-window snippet per hit — the
        ``UnifiedHighlighter`` analog (``lucene/highlighter/.../uhighlight/
        UnifiedHighlighter.java``; Solr ``S/handler/component/
        HighlightComponent.java``).

        Passage selection (deterministic, oracle-reproducible): tokenize the
        SOURCE text with the index token pattern; candidate windows start at
        a matched query-term position and span ``window`` raw-token
        positions; the best window maximizes the count of query-term
        occurrences inside it (tie → leftmost). The snippet is the raw
        (original-case) tokens of that window joined by single spaces —
        a token-normalized rendering, the SQL-checkable stand-in for
        offset-sliced passages.

        Scale shape: snippet extraction is fetch-fields-late — it runs on
        the k result rows ONLY (source text joined via a broadcast of the
        k-row hit set), never on the corpus."""
        from .analysis.analyzer import _TOKEN_RE

        spec = self.searcher.parse(qtype, surface_terms, min_should)
        from .search.query import PhraseClause

        qset = {
            t
            for c in spec.scoring_clauses
            for t in (c.terms if isinstance(c, PhraseClause) else (c.term,))
        }
        hits = self.searcher.search(spec, k=k, with_keys=True)
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "text")
        joined = src.join(F.broadcast(hits), "doc_key")
        W = int(window)

        @F.pandas_udf("string")
        def _snippet(texts: pd.Series) -> pd.Series:
            import bisect

            out = []
            for txt in texts:
                toks = _TOKEN_RE.findall(txt or "")
                mpos = [i for i, t in enumerate(toks) if t.lower() in qset]
                if not mpos:
                    out.append("")
                    continue
                best_s, best_c = mpos[0], -1
                for s in mpos:
                    c = bisect.bisect_right(mpos, s + W - 1) - bisect.bisect_left(mpos, s)
                    if c > best_c:
                        best_c, best_s = c, s
                out.append(" ".join(toks[best_s:best_s + W]))
            return pd.Series(out)

        return (
            joined.select(
                F.col("rank").cast("int").alias("rank"),
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("score").cast("float").alias("score"),
                _snippet(F.col("text")).alias("snippet"),
            )
            .orderBy("rank")
        )

    def highlight_passages(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
        min_should: int = 0,
        window: int = 8,
    ) -> DataFrame:
        """Multi-passage highlighting — ``hl.snippets=2`` /
        ``UnifiedHighlighter#highlight(maxPassages=2)``: up to TWO
        non-overlapping best windows per hit, rendered in document order
        joined by ``" ... "`` (the passage-separator convention).

        Passage 1 = the ``highlight_topk`` best window (max query-term
        occurrences, tie → leftmost). Passage 2 = the best window whose
        start is at least ``window`` positions away from passage 1's (no
        token overlap), same tie-break; omitted when no candidate remains
        — upstream likewise returns fewer passages than requested when the
        doc runs out of distinct match regions.

        Scale shape: identical to ``highlight_topk`` — fetch-fields-late,
        the extraction UDF touches only the k hit rows."""
        from .analysis.analyzer import _TOKEN_RE

        spec = self.searcher.parse(qtype, surface_terms, min_should)
        from .search.query import PhraseClause

        qset = {
            t
            for c in spec.scoring_clauses
            for t in (c.terms if isinstance(c, PhraseClause) else (c.term,))
        }
        hits = self.searcher.search(spec, k=k, with_keys=True)
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "text")
        joined = src.join(F.broadcast(hits), "doc_key")
        W = int(window)

        @F.pandas_udf("string")
        def _snippets(texts: pd.Series) -> pd.Series:
            import bisect

            out = []
            for txt in texts:
                toks = _TOKEN_RE.findall(txt or "")
                mpos = [i for i, t in enumerate(toks) if t.lower() in qset]
                if not mpos:
                    out.append("")
                    continue

                def wcount(s: int) -> int:
                    return bisect.bisect_right(mpos, s + W - 1) - bisect.bisect_left(mpos, s)

                best_s, best_c = mpos[0], -1
                for s in mpos:
                    c = wcount(s)
                    if c > best_c:
                        best_c, best_s = c, s
                second_s, second_c = None, -1
                for s in mpos:
                    if abs(s - best_s) < W:
                        continue
                    c = wcount(s)
                    if c > second_c:
                        second_c, second_s = c, s
                spans = sorted(
                    [best_s] + ([second_s] if second_s is not None else [])
                )
                out.append(
                    " ... ".join(" ".join(toks[s:s + W]) for s in spans)
                )
            return pd.Series(out)

        return (
            joined.select(
                F.col("rank").cast("int").alias("rank"),
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("score").cast("float").alias("score"),
                _snippets(F.col("text")).alias("snippet"),
            )
            .orderBy("rank")
        )

    def search_after_page(
        self, qtype: str, surface_terms: list[str], k: int = 10, min_should: int = 0
    ) -> DataFrame:
        """Page 2 via a searchAfter cursor from page 1 (``IndexSearcher#searchAfter``)."""
        spec = self.searcher.parse(qtype, surface_terms, min_should)
        page1 = self.searcher.search(spec, k=k).collect()
        if len(page1) < k:
            return local_frame(self.spark, "rank int, doc_id long, score float")
        cursor = (page1[-1].score, page1[-1].doc_id)
        return _present(
            self.searcher.search(spec, k=k, with_keys=True, after=cursor)
        )

    def blockjoin_by_source(self, qtype: str, surface_terms: list[str], n_groups: int = 5) -> DataFrame:
        """ToParentBlockJoin analog: child (doc) BM25 hits roll up to the
        parent ``source`` group; parent score = max child score
        (ScoreMode.Max), plus the child hit count."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        # roll-up needs EVERY child hit but no total order: aggregate the
        # unranked per-segment hits directly (searcher.hits) — no global
        # TakeOrdered/limit pass before the group-by (k bounds only the
        # per-segment emit, which a roll-up must not truncate)
        hits = self.searcher.hits(self.searcher.compile(spec, k=1 << 30), mode="exact")
        keys = self.searcher.docs.select("doc_id", *self.searcher.meta.key_cols)
        hits = hits.join(keys, "doc_id", "left")
        src = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).select(
            F.col("doc_id").alias("doc_key"), "source"
        )
        return (
            hits.join(F.broadcast(src), "doc_key")
            .groupBy("source")
            .agg(
                F.max("score").cast("float").alias("parent_score"),
                F.count(F.lit(1)).alias("n_children"),
            )
            .orderBy(F.desc("parent_score"), F.asc("source"))
            .limit(n_groups)
        )

    def blockjoin_children(
        self, qtype: str, surface_terms: list[str], n_parents: int = 2
    ) -> DataFrame:
        """ToChildBlockJoinQuery analog (``lucene/join/.../
        ToChildBlockJoinQuery.java``, Solr ``{!child of=...}``): children
        of matching parents, each carrying the PARENT's score. The parent
        query is the composite ``{!child}{!parent}q`` sibling-retrieval
        shape: parents (source groups) scored by ScoreMode.Max roll-up of
        the child query, then every child of the top parents returned with
        parentScore propagated (ToChildBlockJoin's doScores mode).

        Scale shape: the roll-up reuses the unranked per-segment hits (no
        global sort before the group-by); the top-parent set is tiny and
        broadcast to the child fan-out join — children never shuffle."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", *self.searcher.meta.key_cols)
        hits = hits.join(keys, "doc_id", "left")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "source")
        parents = (
            hits.join(F.broadcast(src), "doc_key")
            .groupBy("source")
            .agg(F.max("score").cast("float").alias("parent_score"))
            .orderBy(F.desc("parent_score"), F.asc("source"))
            .limit(n_parents)
        )
        return (
            src.join(F.broadcast(parents), "source")
            .select(
                "source",
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("parent_score").cast("float").alias("parent_score"),
            )
            .orderBy(F.desc("parent_score"), "source", "doc_id")
        )

    def blockjoin_scores(
        self, qtype: str, surface_terms: list[str], n_groups: int = 5
    ) -> DataFrame:
        """ToParentBlockJoinQuery with ALL score modes side by side
        (``lucene/join/src/java/.../ToParentBlockJoinQuery.java`` ScoreMode
        Max / Total / Avg, Solr ``{!parent score=...}``): child (doc) BM25
        hits roll up to the parent ``source`` group; Max is the f32 max
        (summation-order independent), Total folds the child f32 scores in
        doc_key order with DOUBLE accumulation (a deterministic left fold —
        Lucene's ParentScorer likewise accumulates ``double score``), and
        Avg = total / childCount in double, one final f32 cast each.

        Scale shape: unranked per-segment hits → ONE broadcast join to the
        pruned (doc_id, source) column → ONE partial+final hash-agg keyed
        on the parent (output bounded by parent cardinality). The ordered
        fold runs inside ``F.aggregate`` over the grouped child list — JVM
        columnar, no UDF; child lists are per-parent (bounded block size),
        not per-corpus."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(self.searcher.compile(spec, k=1 << 30), mode="exact")
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "source")
        g = hits.join(keys, "doc_id", "left").join(F.broadcast(src), "doc_key")
        agg = (
            g.groupBy("source")
            .agg(
                F.max("score").cast("float").alias("score_max"),
                F.aggregate(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("doc_key").alias("k"),
                                F.col("score").cast("double").alias("s"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"],
                ).alias("total_d"),
                F.count(F.lit(1)).alias("n_children"),
            )
            .select(
                "source",
                "score_max",
                F.col("total_d").cast("float").alias("score_total"),
                (F.col("total_d") / F.col("n_children").cast("double"))
                .cast("float")
                .alias("score_avg"),
                F.col("n_children").cast("long").alias("n_children"),
            )
        )
        return agg.orderBy(F.desc("score_total"), F.asc("source")).limit(n_groups)

    def feature_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        pivot: float = 200.0,
        boost: float = 1.8,
        k: int = 10,
    ) -> DataFrame:
        """FeatureField saturation query (``lucene/document/FeatureField.java``
        ``newSaturationQuery`` + ``FeatureQuery``): a static document rank
        feature (here x = n_chars, a docvalues-style column) combined with
        relevance as an additive SHOULD clause — final score =
        f32( f64(bm25) + boost · x/(x+pivot) ), the classic saturation
        S(x) = x/(x+pivot) from the FeatureField javadoc. Deviation noted:
        Lucene re-encodes the feature into the term-freq slot with reduced
        float precision; we keep the full column value (no freq bottleneck
        to squeeze through on this engine).

        Scale shape: the saturation term is bounded by ``boost``, but we
        score exact hits (like FunctionScoreQuery) + ONE broadcast join to
        the pruned feature column + ONE TakeOrdered; a WAND upper bound of
        max-impact + boost is the documented upgrade."""
        return self._feature_scored(
            qtype, surface_terms,
            lambda x: F.lit(float(boost)) * (x / (x + F.lit(float(pivot)))),
            k,
        )

    def feature_log_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        scale: float = 1.0,
        boost: float = 1.8,
        k: int = 10,
    ) -> DataFrame:
        """FeatureField ``newLogQuery`` (``lucene/document/FeatureField.java``
        LogFunction): additive feature term boost · ln(scale + x) — the
        unbounded-growth shape for features like inlink counts where the
        top of the range should keep differentiating."""
        return self._feature_scored(
            qtype, surface_terms,
            lambda x: F.lit(float(boost)) * F.log(F.lit(float(scale)) + x),
            k,
        )

    def feature_sigmoid_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        pivot: float = 200.0,
        a: float = 2.0,
        boost: float = 1.8,
        k: int = 10,
    ) -> DataFrame:
        """FeatureField ``newSigmoidQuery`` (SigmoidFunction): additive
        feature term boost · x^a/(x^a + pivot^a) — the saturation shape
        with a tunable steepness exponent (a > 1 sharpens the transition
        around the pivot). Completes the FeatureField query family:
        saturation / log / sigmoid."""
        pa_ = float(pivot) ** float(a)
        return self._feature_scored(
            qtype, surface_terms,
            lambda x: F.lit(float(boost))
            * (F.pow(x, F.lit(float(a)))
               / (F.pow(x, F.lit(float(a))) + F.lit(pa_))),
            k,
        )

    def _feature_scored(self, qtype, surface_terms, feature_fn, k) -> DataFrame:
        """Shared FeatureField evaluator: exact BM25 hits + ONE broadcast
        join to the pruned feature column, fscore = f32(f64(bm25) +
        feature_fn(x)), one TakeOrdered."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        x = F.col("n_chars").cast("double")
        scored = (
            hits.join(keys, "doc_id", "left")
            .join(F.broadcast(src), "doc_key")
            .withColumn(
                "fscore",
                (F.col("score").cast("double") + feature_fn(x)).cast("float"),
            )
        )
        return _present(
            ranked_top(scored, k, F.desc("fscore"), F.asc("doc_key")), score="fscore"
        )

    def rrf_topk(
        self,
        q1_type: str,
        q1_terms: list[str],
        q2_type: str,
        q2_terms: list[str],
        n: int = 40,
        k0: int = 60,
        k: int = 10,
    ) -> DataFrame:
        """Reciprocal Rank Fusion of two ranked retrievers (Solr 9.8's
        ``combiner=rrf`` hybrid-search surface; Cormack/Clarke/Buettcher,
        SIGIR 2009): each leg contributes 1/(k0 + rank) for docs inside its
        top-n, fused score = the double sum, ties broken by doc_id. Ranks
        are integers, so the fused double arithmetic is bitwise
        deterministic on both engines.

        Scale shape: each leg is an independent block-max WAND top-n (all
        the pruning of the scored path applies per leg); the fusion joins
        two ≤n-row frames — driver-free, broadcast-trivial, ONE final
        sort of ≤2n rows."""
        r1 = self.topk(q1_type, q1_terms, k=n).select(
            "doc_id", F.col("rank").alias("r1")
        )
        r2 = self.topk(q2_type, q2_terms, k=n).select(
            "doc_id", F.col("rank").alias("r2")
        )
        kd = F.lit(float(k0))
        fused = r1.join(r2, "doc_id", "full_outer").withColumn(
            "score",
            F.coalesce(F.lit(1.0) / (kd + F.col("r1").cast("double")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (kd + F.col("r2").cast("double")), F.lit(0.0)),
        )
        return ranked_top(fused, k, F.desc("score"), F.asc("doc_id")).select(
            "rank",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("score").cast("double").alias("score"),
        )

    def facet_on_query(
        self, qtype: str, surface_terms: list[str], facet_col: str,
        limit: int = 10,
    ) -> DataFrame:
        """Field facet over the MAIN QUERY's result set (the canonical Solr
        request ``q=...&facet.field=...`` — ``S/request/SimpleFacets``
        counts buckets over the query's DocSet, not the whole collection):
        bucket counts of ``facet_col`` across every matching doc, top-N by
        (count desc, value asc).

        Scale shape: the match set comes from the unranked per-segment hit
        kernels (no global score sort — facets don't need one), joins the
        pruned stored-field read on the doc key, and aggregates with
        Catalyst's partial+final hash-agg; only bucket rows move to the
        driver."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), facet_col)
        return (
            hits.join(keys, "doc_id")
            .join(F.broadcast(src), "doc_key")
            .groupBy(F.col(facet_col).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("bucket"))
            .limit(limit)
        )

    def group_facet(
        self, qtype: str, surface_terms: list[str], group_col: str,
        facet_col: str, limit: int = 10,
    ) -> DataFrame:
        """Grouped faceting (``group.facet=true`` —
        ``S/search/Grouping.java`` + ``S/request/SimpleFacets``): facet
        counts computed on GROUPS, not documents — each bucket counts the
        DISTINCT groups (``group_col`` values) that have at least one
        matching doc with that facet value, so a group contributes at most
        1 per bucket regardless of how many of its docs match.

        Scale shape: same unranked per-segment match kernels as
        ``facet_on_query`` (no score sort), then ONE partial+final
        count-distinct hash-agg (Catalyst expands it to a two-level agg —
        no driver-side group tracking, unlike Solr's per-shard grouped
        facet collector which holds group sets in memory)."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), group_col, facet_col)
        return (
            hits.join(keys, "doc_id")
            .join(F.broadcast(src), "doc_key")
            .groupBy(F.col(facet_col).alias("bucket"))
            .agg(F.countDistinct(F.col(group_col)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("bucket"))
            .limit(limit)
        )

    def facet_block_children(
        self, qtype: str, surface_terms: list[str], facet_col: str,
    ) -> DataFrame:
        """JSON facet with a block-children DOMAIN SWITCH
        (``S/search/facet/FacetRequest`` ``domain:{blockChildren:...}`` /
        ``S/search/join/BlockJoinChildQParser``): the query matches inside
        parent blocks (here the ``source`` group — the engine's
        parent/child unit, cf. ``blockjoin_by_source``); the facet then
        counts over ALL children of every matched parent, not just the
        matching docs.

        Scale shape: matched parents are a tiny distinct set
        (broadcast); the children re-scan is one pruned parquet read
        filtered by the broadcast semi-join — no per-parent queries."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "source", facet_col)
        parents = (
            hits.join(keys, "doc_id").join(F.broadcast(src), "doc_key")
            .select("source").distinct()
        )
        return (
            src.join(F.broadcast(parents), "source", "left_semi")
            .groupBy(F.col(facet_col).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("bucket"))
        )

    def diversified_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
        max_per_key: int = 2,
        key_col: str = "source",
    ) -> DataFrame:
        """Diversity-limited top-k
        (``L/misc/search/DiversifiedTopDocsCollector`` — the de-duplicated
        results collector: at most ``max_per_key`` hits per key in the final
        page, e.g. "no more than 2 results per site"). Columnar
        re-expression of the collector's admission rule: walk hits in
        (score desc, doc asc) order, keep a doc iff fewer than
        ``max_per_key`` better-scoring docs share its key — i.e. per-key
        rank ≤ max_per_key — then take the global top-k of the survivors.
        (The streaming collector's eviction converges to this same set; the
        set is computed exactly here since all hits are materialized.)

        Scale shape: unranked ``hits`` (no global sort), key lookup is a
        broadcast join against the pruned two-column source read, the
        per-key rank is ONE window shuffle partitioned by key (bounded
        partitions — keys are categorical), the final page a k-row
        TakeOrdered."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), key_col)
        # internal docID order == source doc_id order (dense key-ordered
        # build), so the doc_key tiebreak reproduces the collector's
        w = Window.partitionBy(key_col).orderBy(F.desc("score"), F.asc("doc_key"))
        survivors = (
            hits.join(keys, "doc_id")
            .join(F.broadcast(src), "doc_key")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_per_key)
        )
        page = survivors.select(
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col(key_col).alias("source"),
            F.col("score").cast("float").alias("score"),
        )
        return ranked_top(page, k, F.desc("score"), F.asc("doc_id")).select(
            "rank", "doc_id", "source", "score"
        )

    def stats_on_query(
        self, qtype: str, surface_terms: list[str], stat_col: str,
    ) -> DataFrame:
        """StatsComponent over the main query's result set
        (``S/handler/component/StatsComponent`` with ``q=...&stats.field=
        ...``): count/min/max/sum/mean of a stored numeric field across
        every matching doc — one row.

        Scale shape: same unranked hit kernels + pruned field read as
        ``facet_on_query``, then a single global aggregate (partial+final);
        the sum is exact DECIMAL so map-side combine order can't change
        the mean."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), stat_col)
        j = hits.join(keys, "doc_id").join(F.broadcast(src), "doc_key")
        c = F.col(stat_col)
        return j.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(c).cast("long").alias("min_v"),
            F.max(c).cast("long").alias("max_v"),
            F.sum(c.cast("decimal(18,2)")).cast("double").alias("sum_v"),
        ).select(
            "cnt", "min_v", "max_v", "sum_v",
            (F.col("sum_v") / F.col("cnt").cast("double")).alias("mean_v"),
        )

    def constant_score_topk(
        self, qtype: str, surface_terms: list[str], boost: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """ConstantScoreQuery (``L/search/ConstantScoreQuery``): every doc
        matching the wrapped query scores exactly ``boost`` — no similarity,
        no per-term weights; top-k order degenerates to doc-id asc.

        Scale shape: the same term-pruned per-segment match kernels, but no
        global score sort — TakeOrdered on the key alone."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        return (
            hits.join(keys, "doc_id")
            .select(
                F.col("doc_key").cast("long").alias("doc_id"),
                F.lit(float(boost)).cast("float").alias("score"),
            )
            .orderBy("doc_id")
            .limit(k)
        )

    def matchall_topk(
        self, filter_field: str | None = None, filter_value=None,
        k: int = 10,
    ) -> DataFrame:
        """MatchAllDocsQuery (``L/search/MatchAllDocsQuery``) — Solr's
        ``q=*:*``, optionally under an ``fq``: every live doc matches with
        constant score 1.0; the fq is a non-scoring FILTER over the
        keyword-field posting list. Order degenerates to doc key asc
        (score is constant), exactly Lucene's docID-order tiebreak.

        Scale shape: with an fq, matching reads ONLY the one keyword
        posting list (term-pruned scan — no text postings touched, no
        scoring); without, it is a pruned scan of the docs table (the
        live-docs bitset analog). Either way: no shuffle before the
        TakeOrdered on the key."""
        from .index.build import keyword_term
        from .search.query import BooleanSpec, TermClause

        if filter_field is None:
            keys = self.searcher.docs.select("doc_key")
            return (
                keys.select(
                    F.col("doc_key").cast("long").alias("doc_id"),
                    F.lit(1.0).cast("float").alias("score"),
                )
                .orderBy("doc_id")
                .limit(k)
            )
        kw = keyword_term(filter_field, filter_value)
        spec = BooleanSpec(filter=[TermClause(kw)])
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        return (
            hits.join(keys, "doc_id")
            .select(
                F.col("doc_key").cast("long").alias("doc_id"),
                F.lit(1.0).cast("float").alias("score"),
            )
            .orderBy("doc_id")
            .limit(k)
        )

    def common_terms_topk(
        self, surface_terms: list[str], max_df_ratio: float = 0.05,
        k: int = 10,
    ) -> DataFrame:
        """CommonTermsQuery (``lucene/queries/.../CommonTermsQuery.java``):
        terms whose docFreq exceeds ``max_df_ratio``·docCount are demoted
        to a low-priority optional group (scored when they co-occur, never
        required), rare terms form the required conjunction — the stopword
        problem solved from index statistics instead of a fixed list.

        Scale shape: the df split reads ONE term-pruned scan of the small
        term_stats table (the TermStates#build pass the query compiler
        already does); execution is the ordinary boolean kernel."""
        from .search.query import TermClause

        an = self.searcher.analyzer
        toks = [an.analyze(s)[0][0] for s in surface_terms]
        dfs, _ = self.searcher.term_stats_rows(toks)
        cutoff = max_df_ratio * float(self.searcher.stats.doc_count)
        spec = BooleanSpec()
        for t in toks:
            df = dfs.get(t, 0)
            if df == 0:
                continue
            (spec.should if df > cutoff else spec.must).append(TermClause(t))
        if not spec.must:
            # all terms common: Lucene falls back to pure disjunction
            spec.min_should_match = 1
        return self.ranked(spec, k)

    def suggest(self, kind: str, pattern, k: int = 10) -> DataFrame:
        """Suggester / spellcheck (``lucene/suggest/.../Lookup.java``,
        ``S/handler/component/SpellCheckComponent.java``): candidate terms
        from the term dictionary ranked by docFreq (popularity weight), term
        asc tiebreak — (rank, term, df).

        kind='prefix' is the type-ahead Lookup; kind='fuzzy' with
        (term, max_edits) is DirectSpellChecker-style correction candidates
        (Levenshtein expansion against the live term dictionary);
        kind='infix' is the ``AnalyzingInfixSuggester`` shape — the pattern
        may start ANYWHERE inside the suggestion (contains match), ranked
        by the same popularity weight. All run as a pruned scan of the
        small term_stats table — no posting decode, no driver-side
        dictionary."""
        from .index.build import KEYWORD_PREFIX

        ts = (
            read_term_stats(self.spark, self.index_dir)
            .filter(~F.col("term").startswith(KEYWORD_PREFIX))
        )
        if kind == "prefix":
            cond = F.col("term").startswith(pattern)
        elif kind == "fuzzy":
            term, max_edits = pattern
            cond = F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
        elif kind == "infix":
            cond = F.col("term").contains(pattern)
        else:
            raise ValueError(f"unknown suggest kind {kind!r}")
        return ranked_top(ts.filter(cond), k, F.desc("df"), F.asc("term")).select(
            "rank", "term", F.col("df").cast("long").alias("df")
        )

    def suggest_docdict(self, prefix: str, k: int = 10) -> DataFrame:
        """DocumentDictionary suggester (``lucene/suggest/.../
        DocumentDictionary.java`` via Solr's ``DocumentDictionaryFactory``
        with a ``weightField``): every document contributes a stored
        field's VALUE as a suggestion entry weighted by a per-doc numeric
        field — unlike the term-dictionary suggesters, weights are
        editorial/derived, not docFreq. Here key = ``source``, weight =
        ``n_chars``; lookup = prefix match, (weight desc, key asc, doc asc).

        Scale shape: the dictionary IS the source table — one pushed
        StartsWith scan of two columns + a TakeOrdered; upstream pays an
        FST build for the same lookup."""
        docs = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select("doc_id", F.col("source").alias("key"),
                 F.col("n_chars").cast("long").alias("weight"))
        return ranked_top(
            docs.filter(F.col("key").startswith(prefix)),
            k, F.desc("weight"), F.asc("key"), F.asc("doc_id"),
        ).select("rank", "key", "weight", F.col("doc_id").cast("long").alias("doc_id"))

    def omitnorms_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        k: int = 10,
        min_should: int = 0,
    ) -> DataFrame:
        """BM25 top-k over a field indexed with ``omitNorms=true``
        (``L/document/FieldType#setOmitNorms``; Solr schema
        ``omitNorms="true"``): length normalization is disabled — at query
        time ``LeafSimScorer#getNormValue`` returns the constant ``1L`` when
        the norms producer is absent, so every doc scores through the SAME
        norm-cache entry ``cache[1]`` (decoded length 1). Implemented as the
        ``OMIT_NORMS`` similarity — BM25 with that constant table — over the
        unchanged index (norms bytes are simply never consulted); WAND block
        bounds ride the same constant, so pruning stays rank-safe."""
        s = self.searcher
        q = s.compile(s.parse(qtype, surface_terms, min_should), k, similarity=OMIT_NORMS)
        return self.ranked(q)

    def group_query_topk(
        self, buckets: dict[str, tuple[str, list[str]]], k: int = 3
    ) -> DataFrame:
        """``group.query`` grouping (``S/search/Grouping.java`` — the
        query-bucket variant of result grouping: each named QUERY is a
        group, holding its own top-k): one ranked top-k per bucket query,
        labelled and concatenated, (bucket, rank) ordered.

        Scale shape: each bucket is an independent pruned-scan top-k (the
        per-bucket kernels share the posting-decode cache when terms
        overlap); the union is k·buckets rows — no cross-bucket shuffle."""
        parts = []
        for name in sorted(buckets):
            qtype, terms = buckets[name]
            spec = self.searcher.parse(qtype, terms, 0)
            top = _present(
                self.searcher.search(
                    self.searcher.compile(spec, k=k), with_keys=True
                )
            )
            parts.append(top.withColumn("bucket", F.lit(name)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("bucket", "rank", "doc_id", "score").orderBy(
            "bucket", "rank"
        )

    def suggest_blended_infix(self, pattern: str, k: int = 10) -> DataFrame:
        """BlendedInfixSuggester (``lucene/suggest/.../analyzing/
        BlendedInfixSuggester.java``, BlenderType.POSITION_LINEAR):
        infix matches are re-weighted by WHERE the match occurs —
        ``score = weight · (1 − 0.10 · position)`` — so suggestions
        matching earlier outrank equally-popular later matches. Upstream
        positions are token indexes inside multi-word suggestions; this
        dictionary's suggestions are single terms, so position is the
        matched character offset within the term (the same
        earlier-is-better signal at the granularity this dictionary has —
        documented deviation). weight = docFreq, the popularity weight the
        plain infix suggester uses; ties → term asc.

        Scale shape: one pruned term_stats scan with a pushed contains
        predicate; the blend is a JVM column expression; one TakeOrdered."""
        from .index.build import KEYWORD_PREFIX

        ts = (
            read_term_stats(self.spark, self.index_dir)
            .filter(~F.col("term").startswith(KEYWORD_PREFIX))
            .filter(F.col("term").contains(pattern))
        )
        pos = (F.instr(F.col("term"), F.lit(pattern)) - 1).cast("double")
        score = F.col("df").cast("double") * (
            F.lit(1.0) - F.lit(0.10) * pos
        )
        return ranked_top(
            ts.withColumn("score", score), k, F.desc("score"), F.asc("term")
        ).select(
            "rank", "term", F.col("df").cast("long").alias("df"),
            F.col("score").cast("double").alias("score"),
        )

    def suggest_fuzzy_prefix(
        self,
        key: str,
        k: int = 10,
        max_edits: int = 1,
        non_fuzzy_prefix: int = 1,
        min_fuzzy_length: int = 3,
    ) -> DataFrame:
        """FuzzySuggester (``lucene/suggest/.../analyzing/
        FuzzySuggester.java``): typo-tolerant type-ahead — the typed key
        matches a suggestion when SOME PREFIX of the suggestion is within
        ``max_edits`` of the key (upstream: the key's Levenshtein automaton
        intersected with the completion FST). Upstream defaults preserved:
        maxEdits=1, nonFuzzyPrefix=1 (first char must match exactly),
        minFuzzyLength=3 (shorter keys get exact-prefix only); exact-prefix
        completions always qualify. Deviation: upstream default
        transpositions=true (Damerau); both this engine and the oracle use
        classic Levenshtein (JVM/DuckDB built-in), so a transposed-adjacent
        pair costs 2 edits instead of 1 — documented, both sides agree.

        "some prefix within max_edits" is decided closed-form: only prefix
        lengths in [len(key)−max_edits, len(key)+max_edits] can be within
        max_edits of the key (length delta is a lower bound on edit
        distance), so the min over that fixed window of per-length
        Levenshtein distances is exact — 2·max_edits+1 JVM ``levenshtein``
        calls per dictionary term, no automaton needed.

        Scale shape: ONE pruned term_stats scan (the dictionary is the
        small per-term table, never the postings), JVM-only predicate,
        one TakeOrdered — same shape as every other suggester here.
        Ranked by docFreq (popularity weight) desc, term asc."""
        from .index.build import KEYWORD_PREFIX

        ts = (
            read_term_stats(self.spark, self.index_dir)
            .filter(~F.col("term").startswith(KEYWORD_PREFIX))
        )
        exact = F.col("term").startswith(key)
        if len(key) < min_fuzzy_length:
            cond = exact
        else:
            pref_ok = (
                F.substring("term", 1, non_fuzzy_prefix)
                == key[:non_fuzzy_prefix]
            )
            n = len(key)
            dists = [
                F.levenshtein(
                    F.substring("term", 1, n + off), F.lit(key)
                )
                for off in range(-max_edits, max_edits + 1)
                if n + off > 0
            ]
            cond = exact | (pref_ok & (F.least(*dists) <= max_edits))
        return ranked_top(ts.filter(cond), k, F.desc("df"), F.asc("term")).select(
            "rank", "term", F.col("df").cast("long").alias("df")
        )

    def spellcheck_collate(
        self, surface_terms: list[str], max_edits: int = 2
    ) -> DataFrame:
        """SpellCheck collation (``S/spelling/SpellCheckCollator`` +
        ``S/spelling/DirectSolrSpellChecker`` over ``L/search/spell/
        DirectSpellChecker``): per query term, the best dictionary
        correction within ``max_edits`` by (edit distance asc, docFreq
        desc, term asc) — a correctly spelled term is its own distance-0
        best — then the collated conjunction is re-run and its exact hit
        count reported (Solr's collation verification).

        Scale shape: ONE pruned term_stats scan scores every (query term ×
        dictionary term) pair with the query side a broadcast literal
        frame; best-per-term is a window over the tiny candidate set; the
        collation count is the distributed count path — no driver-side
        dictionary."""
        from pyspark.sql import Window

        from .index.build import KEYWORD_PREFIX
        from .search.query import BooleanSpec, TermClause

        an = self.searcher.analyzer
        toks = [an.analyze(s)[0][0] for s in surface_terms]
        q = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(toks)], "qpos int, qterm string"
        )
        ts = (
            read_term_stats(self.spark, self.index_dir)
            .filter(~F.col("term").startswith(KEYWORD_PREFIX))
        )
        cand = ts.join(
            F.broadcast(q),
            F.levenshtein(F.col("term"), F.col("qterm")) <= max_edits,
        ).withColumn("dist", F.levenshtein(F.col("term"), F.col("qterm")))
        w = Window.partitionBy("qpos").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("qpos", "qterm", F.col("term").alias("correction"),
                    "dist", "df")
        )
        rows = sorted(best.collect(), key=lambda r: r.qpos)
        spec = BooleanSpec(must=[TermClause(r.correction) for r in rows])
        # exact count via the TotalHits COUNT kernel (a top-k search would
        # WAND-prune per segment and undercount)
        n_hits, _rel = self.searcher.total_hits(spec, threshold=1 << 31)
        out = [
            (int(r.qpos), r.qterm, r.correction, int(r.dist), int(r.df),
             int(n_hits))
            for r in rows
        ]
        return local_frame(
            self.spark,
            "qpos int, qterm string, correction string, dist int, "
            "df long, collation_hits long",
            out,
        )

    def term_vectors(self, doc_key: int) -> DataFrame:
        """Term-vector read (``S/handler/component/TermVectorComponent``,
        ``L/index/TermVectors``): one document's full term vector — per-term
        tf and position extent — READ FROM THE INDEX postings, not by
        re-analyzing the stored text.

        Scale shape: the postings scan is pruned to the doc's segment and —
        before ANY varint decode — to terms with a block whose
        [first_doc, last_doc] covers the doc (the same skip-data metadata
        WAND uses; at most one block per term decodes). Internal keyword
        posting lists are excluded."""
        from .index.build import KEYWORD_PREFIX

        s = self.searcher
        row = (
            s.docs.filter(F.col("doc_key") == int(doc_key))
            .select("seg", "doc_id").collect()
        )
        schema = "term string, tf long, min_pos int, max_pos int"
        if not row:
            return local_frame(self.spark, schema)
        seg = int(row[0].seg)
        local = int(row[0].doc_id) - s.layout[seg][0]
        posts = s.postings.filter(
            (F.col("seg") == seg)
            & ~F.col("term").startswith(KEYWORD_PREFIX)
            & F.exists(
                "blocks",
                lambda b: (b.first_doc <= F.lit(local))
                & (b.last_doc >= F.lit(local)),
            )
        ).select("term", "blocks")

        def kern(it):
            import numpy as np
            import pandas as pd

            from .index.codec import decode_block

            for pdf in it:
                terms: list[str] = []
                tfs: list[int] = []
                mns: list[int] = []
                mxs: list[int] = []
                for term, blocks in zip(pdf["term"], pdf["blocks"]):
                    for b in blocks:
                        if not (b["first_doc"] <= local <= b["last_doc"]):
                            continue
                        docs, tfv, pos = decode_block(b, with_positions=True)
                        i = int(np.searchsorted(docs, local))
                        if i < len(docs) and docs[i] == local:
                            splits = np.zeros(len(tfv) + 1, dtype=np.int64)
                            np.cumsum(tfv, out=splits[1:])
                            pp = pos[splits[i]:splits[i + 1]]
                            terms.append(term)
                            tfs.append(int(tfv[i]))
                            mns.append(int(pp.min()))
                            mxs.append(int(pp.max()))
                        break  # ≤1 block can cover a local id
                yield pd.DataFrame({
                    "term": pd.Series(terms, dtype=object),
                    "tf": pd.Series(tfs, dtype="int64"),
                    "min_pos": pd.Series(mns, dtype="int32"),
                    "max_pos": pd.Series(mxs, dtype="int32"),
                })

        return posts.mapInPandas(kern, schema).orderBy("term")

    def function_query_topk(self, surface_term: str, k: int = 10) -> DataFrame:
        """Rank by the ``termfreq(text, term)`` ValueSource (function query
        as sort) — (rank, doc_id, tf) keyed on the source doc id."""
        term = self.searcher.analyzer.analyze(surface_term)[0][0]
        out = self.searcher.termfreq_topk(term, k)
        keys = self.searcher.docs.select("doc_id", *self.searcher.meta.key_cols)
        return (
            out.join(keys, "doc_id", "left")
            .select(
                F.col("rank").cast("int").alias("rank"),
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("tf").cast("long").alias("tf"),
            )
            .orderBy("rank")
        )

    def _funcexpr_scored(self, expr: str) -> DataFrame:
        """Shared ValueSource-expression evaluator: DataFrame(doc_key,
        fscore float32) for every doc — the compile/join pipeline behind
        both the ranking surface (``function_expr_topk``) and the filtering
        surface (``frange_docs``)."""
        import math

        from .search.funcquery import (
            FuncEnv, collect_scalars, collect_termfreqs, compile_spark,
            parse_expr, split_scale,
        )
        from .util.smallfloat import LENGTH_TABLE

        ast, scale_to = split_scale(parse_expr(expr))
        s = self.searcher
        an = s.analyzer
        base = s.docs.select("doc_id", "doc_key", "norm")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars", "source", "lang")
        base = base.join(src, "doc_key")
        tf_env = {}
        for i, (field, surface) in enumerate(collect_termfreqs(ast)):
            term = an.analyze(surface)[0][0]
            tfd = s.termfreq_df(term).withColumnRenamed("tf", f"tf_{i}")
            base = base.join(tfd, "doc_id", "left")
            tf_env[(field, surface)] = F.coalesce(F.col(f"tf_{i}"), F.lit(0))
        scalars = {}
        for key in collect_scalars(ast):
            if key[0] in ("docfreq", "idf", "ttf"):
                term = an.analyze(key[2])[0][0]
                rows = self.term_stats_df().filter(F.col("term") == term).collect()
                if key[0] == "ttf":  # TotalTermFreqValueSource
                    scalars[key] = float(rows[0].ttf) if rows else 0.0
                    continue
                df = float(rows[0].df) if rows else 0.0
                if key[0] == "idf":  # BM25 idf, double (IDFValueSource analog)
                    n = float(s.stats.doc_count)
                    scalars[key] = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                else:
                    scalars[key] = df
            elif key[0] == "sumtotaltermfreq":  # SumTotalTermFreqValueSource
                scalars[key] = float(s.stats.sum_total_term_freq)
            else:  # numdocs / maxdoc (equal here: dense ids, live stats)
                scalars[key] = float(s.stats.doc_count)
        decoded = F.element_at(
            F.array(*[F.lit(int(x)) for x in LENGTH_TABLE]), F.col("norm") + 1
        )
        env = FuncEnv(
            tf=tf_env,
            fields={
                "n_chars": F.col("n_chars"),
                # string fields for strdist() — keyed off the numeric
                # namespace (numeric Field refs double-cast; these must not)
                ("str", "source"): F.col("source"),
                ("str", "lang"): F.col("lang"),
            },
            norms={"text": decoded}, scalars=scalars,
        )
        raw = compile_spark(ast, env)
        if scale_to is not None:
            # scale(x, minT, maxT): one global min/max aggregate broadcast
            # back onto every row (the full-pass Solr's scale() also takes)
            lo_t, hi_t = (F.lit(float(v)).cast("double") for v in scale_to)
            agg = base.select(raw.alias("_v")).agg(
                F.min("_v").alias("_vmin"), F.max("_v").alias("_vmax")
            )
            base = base.crossJoin(F.broadcast(agg))
            raw = F.when(
                F.col("_vmax") == F.col("_vmin"), lo_t
            ).otherwise(
                lo_t + (raw - F.col("_vmin")) * (hi_t - lo_t)
                / (F.col("_vmax") - F.col("_vmin"))
            )
        return base.withColumn("fscore", raw.cast("float")).select(
            "doc_key", "fscore"
        )

    def function_expr_topk(self, expr: str, k: int = 10) -> DataFrame:
        """Full ValueSource EXPRESSION as the ranking function
        (``S/search/ValueSourceParser``): parse the Solr function-query
        string, compile it to a pure-JVM Column tree (whole-stage codegen —
        no Python in the scoring path), and rank all docs by it.

        Scale shape: ``termfreq`` slots are term-pruned postings scans
        left-joined on doc_id; index scalars (docfreq/numdocs/maxdoc) are
        resolved ONCE and folded as literals (Lucene TermStates discipline);
        the stored-field columns come from one pruned parquet read; ranking
        is a single global TakeOrdered. Scores are float32 on both engines
        (absorbs JVM-vs-libm 1-ulp double divergence in log/div)."""
        scored = self._funcexpr_scored(expr)
        return ranked_top(scored, k, F.desc("fscore"), F.asc("doc_key")).select(
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col("fscore").cast("float").alias("fscore"),
        )

    def frange_docs(
        self, expr: str, lower: float, upper: float, k: int = 20
    ) -> DataFrame:
        """Function RANGE query (``S/search/FunctionRangeQuery`` /
        ``{!frange l=.. u=..}expr``): docs whose function value lies in
        [lower, upper], returned in doc-id order (frange is a FILTER, not a
        ranking) with the float32 value.

        Scale shape: the same JVM column tree as ``function_expr_topk``;
        the range predicate is a Catalyst filter on the computed column
        (whole-stage codegen), then one TakeOrdered on doc id."""
        return (
            self._funcexpr_scored(expr)
            .filter(
                (F.col("fscore") >= F.lit(float(lower)))
                & (F.col("fscore") <= F.lit(float(upper)))
            )
            .orderBy(F.asc("doc_key"))
            .limit(k)
            .select(
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("fscore").cast("float").alias("fscore"),
            )
        )

    def ltr_feature_log(
        self,
        qtype: str,
        surface_terms: list[str],
        feature_term: str,
        k: int = 10,
    ) -> DataFrame:
        """LTR feature logging — Solr's ``fl=[features store=...]`` doc
        transformer (``contrib/ltr/.../response/transform/
        LTRFeatureLoggerTransformerFactory``): the first-pass top-k with
        every extracted feature VALUE as a column. This is the
        training-set emission half of the LTR loop — log features on live
        traffic, train offline, deploy the model ``ltr_rescore_topk``
        serves — so the logged values must be exactly what the deployed
        model will see (same extractors, same f32 rounding).

        Features (f32 each, the rescorer's extractors): OriginalScore
        (first-pass BM25), ln(1+termfreq), FieldValue n_chars/1000.

        Scale shape: identical to the rescorer — the k-row candidate set
        broadcast-joins one term-pruned termfreq scan and one pruned
        stored-field read; no Python, no full-corpus feature pass."""
        s = self.searcher
        an = s.analyzer
        first = s.search(s.parse(qtype, surface_terms), k=k, with_keys=True)
        term = an.analyze(feature_term)[0][0]
        tfd = s.termfreq_df(term)
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        feat = (
            first.join(tfd, "doc_id", "left")
            .join(src, "doc_key")
            .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
        )
        return feat.select(
            F.col("rank").cast("int").alias("rank"),
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col("score").cast("float").alias("f_original"),
            F.log(F.lit(1.0) + F.col("tf").cast("double")).cast("float").alias("f_logtf"),
            (F.col("n_chars").cast("double") / F.lit(1000.0)).cast("float").alias("f_nchars"),
        ).orderBy("rank")

    def ltr_rescore_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        feature_term: str,
        weights: tuple[float, float, float],
        rerank_docs: int = 50,
        k: int = 10,
    ) -> DataFrame:
        """Learning-to-rank rescore (Solr LTR contrib:
        ``contrib/ltr/.../LTRScoringQuery`` + ``model/LinearModel``):
        first-pass BM25 top-``rerank_docs`` candidates get a feature vector
        — OriginalScoreFeature (the BM25 score), a query-dependent
        termfreq feature, and a FieldValueFeature (``n_chars``) — and the
        LinearModel rescores them ``w0·orig + w1·ln(1+tf) + w2·(n_chars/
        1000)`` (double, left-assoc, one f32 cast).

        Scale shape: unlike the driver-side ReRank combine, the feature
        join and model evaluation are fully DISTRIBUTED — the candidate
        set (small, API-bounded) broadcast-joins the term-pruned termfreq
        scan and the pruned stored-field read; the model is a JVM column
        expression (whole-stage codegen)."""
        s = self.searcher
        an = s.analyzer
        first = s.search(
            s.parse(qtype, surface_terms), k=rerank_docs, with_keys=True
        ).select("doc_id", "doc_key", F.col("score").alias("orig"))
        term = an.analyze(feature_term)[0][0]
        tfd = s.termfreq_df(term)
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        w0, w1, w2 = (float(w) for w in weights)
        feat = (
            first.join(tfd, "doc_id", "left")
            .join(src, "doc_key")
            .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
        )
        ltr = (
            F.lit(w0) * F.col("orig").cast("double")
            + F.lit(w1) * F.log(F.lit(1.0) + F.col("tf").cast("double"))
            + F.lit(w2) * (F.col("n_chars").cast("double") / F.lit(1000.0))
        ).cast("float")
        return ranked_top(
            feat.withColumn("ltr_score", ltr),
            k, F.desc("ltr_score"), F.asc("doc_key"),
        ).select(
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col("ltr_score").cast("float").alias("ltr_score"),
        )

    def ltr_trees_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        feature_term: str,
        trees: tuple,
        rerank_docs: int = 50,
        k: int = 10,
    ) -> DataFrame:
        """LTR tree-ensemble rescore (Solr ``contrib/ltr/.../model/
        MultipleAdditiveTreesModel.java`` — the LambdaMART deployment
        shape): first-pass top-N candidates get the same feature vector as
        the LinearModel path (orig BM25, termfreq, n_chars); each weighted
        regression tree walks ``feature <= threshold ? left : right`` to a
        leaf; score = f32( Σ_double weight_i · tree_i(x) ).

        Scale shape: the whole ensemble compiles to ONE nested CASE WHEN
        column tree (whole-stage codegen — exactly how the reference
        evaluates the ensemble per candidate in the JVM); the feature join
        stays the distributed broadcast shape of ``ltr_rescore_topk``."""
        s = self.searcher
        an = s.analyzer
        first = s.search(
            s.parse(qtype, surface_terms), k=rerank_docs, with_keys=True
        ).select("doc_id", "doc_key", F.col("score").alias("orig"))
        term = an.analyze(feature_term)[0][0]
        tfd = s.termfreq_df(term)
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        feat = (
            first.join(tfd, "doc_id", "left")
            .join(src, "doc_key")
            .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
        )

        def node_col(node):
            if "value" in node:
                return F.lit(float(node["value"])).cast("double")
            return F.when(
                F.col(node["feature"]).cast("double")
                <= F.lit(float(node["threshold"])),
                node_col(node["left"]),
            ).otherwise(node_col(node["right"]))

        total = None
        for weight, root in trees:
            t = F.lit(float(weight)) * node_col(root)
            total = t if total is None else total + t
        return ranked_top(
            feat.withColumn("ltr_score", total.cast("float")),
            k, F.desc("ltr_score"), F.asc("doc_key"),
        ).select(
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col("ltr_score").cast("float").alias("ltr_score"),
        )

    def rerank_topk(
        self,
        main_qtype: str,
        main_terms: list[str],
        rr_qtype: str,
        rr_terms: list[str],
        rerank_docs: int = 50,
        weight: float = 2.0,
        k: int = 10,
    ) -> DataFrame:
        """ReRank query (``S/search/ReRankQParserPlugin`` /
        ``L/queries/.../QueryRescorer#combine``): first-pass BM25
        top-``rerank_docs``; candidates also matching the rerank query are
        rescored ``first + reRankWeight * rerank_score`` (f32 per-op);
        non-matching candidates keep the first-pass score; final (score
        desc, doc asc) top-k.

        Scale shape: the combine step runs on the driver-held top-N TopDocs
        — exactly the reference's in-memory rescore, N small by API contract
        (Solr default 200) — while the rerank query itself is scored
        DISTRIBUTED and candidate-restricted per segment (filter_by_base
        rides the kernel closure; no second full posting scan)."""
        import numpy as np

        s = self.searcher
        first = s.search(
            s.parse(main_qtype, main_terms), k=rerank_docs, with_keys=True
        )
        frows = first.select("doc_id", "doc_key", "score").collect()
        schema = "rank int, doc_id long, score float"
        if not frows:
            return local_frame(self.spark, schema)
        rr = s.search(
            s.parse(rr_qtype, rr_terms), k=len(frows),
            filter_by_base=s.by_base(r.doc_id for r in frows),
        )
        rrmap = {int(r.doc_id): np.float32(r.score) for r in rr.collect()}
        w = np.float32(weight)
        scored = []
        for r in frows:
            sc = np.float32(r.score)
            rrs = rrmap.get(int(r.doc_id))
            if rrs is not None:
                sc = sc + w * rrs  # f32 per-op: mul rounds, then add rounds
            scored.append((sc, int(r.doc_key)))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rows = [
            (i + 1, dk, float(sc)) for i, (sc, dk) in enumerate(scored[:k])
        ]
        return local_frame(self.spark, schema, rows)

    def elevate_topk(
        self, qtype: str, surface_terms: list[str], elevated: list[int],
        k: int = 10,
    ) -> DataFrame:
        """Query elevation (``S/handler/component/QueryElevationComponent``):
        configured doc ids pinned to the top in config order (ids present in
        the corpus only), organic BM25 ranking following with the elevated
        docs removed. Output (rank, doc_id, elevated-flag) — flag mirrors
        Solr's ``[elevated]`` transformer."""
        base = self.topk(qtype, surface_terms, k=k + len(elevated))
        brows = base.collect()
        present = {
            int(r.doc_key)
            for r in self.searcher.docs.filter(
                F.col("doc_key").isin([int(d) for d in elevated])
            ).select("doc_key").collect()
        }
        out: list[tuple[int, int]] = []
        for d in elevated:
            if int(d) in present:
                out.append((int(d), 1))
        elev_set = {int(d) for d in elevated}
        for r in brows:
            if int(r.doc_id) not in elev_set:
                out.append((int(r.doc_id), 0))
        rows = [(i + 1, d, e) for i, (d, e) in enumerate(out[:k])]
        return local_frame(self.spark, "rank int, doc_id long, elevated int", rows)

    def result_clusters(
        self, qtype: str, surface_terms: list[str], n_docs: int = 50,
    ) -> DataFrame:
        """Search-result clustering (Solr clustering contrib /
        ``S/handler/clustering/ClusteringComponent.java`` — the
        Carrot2-backed on-page clusterer, here the deterministic
        dominant-term variant): the top-N result page's docs are grouped by
        each doc's highest classic-tf·idf term (the same MLT scoring,
        argmax per doc, ties → term asc). Like the reference, clustering
        runs ON THE RETURNED PAGE ONLY (N is API-bounded), so the label
        step costs one pruned stats lookup — the corpus is never
        re-scanned. Returns (label, n_docs, best_rank) by (n_docs desc,
        label asc)."""
        import math

        s = self.searcher
        top = (
            s.search(s.parse(qtype, surface_terms, 0), k=n_docs, with_keys=True)
            .select("rank", "doc_key").collect()
        )
        keys = [int(r.doc_key) for r in top]
        ranks = {int(r.doc_key): int(r.rank) for r in top}
        texts = {
            int(r.doc_id): r.text
            for r in self.spark.read.parquet(
                os.path.join(self.sf_dir, "documents.parquet")
            ).filter(F.col("doc_id").isin(keys)).select("doc_id", "text").collect()
        }
        from collections import Counter

        per_doc_tf = {k: Counter(t for t, _ in s.analyzer.analyze(texts[k])) for k in keys}
        all_terms = sorted({t for c in per_doc_tf.values() for t in c})
        dfs = s.term_stats(all_terms)
        n = s.stats.doc_count
        rows: dict[str, list] = {}
        for k in keys:
            scored = [
                (float(c) * (math.log(n / (dfs[t] + 1.0)) + 1.0), t)
                for t, c in per_doc_tf[k].items() if dfs.get(t, 0) > 0
            ]
            scored.sort(key=lambda x: (-x[0], x[1]))
            label = scored[0][1]
            rows.setdefault(label, []).append(ranks[k])
        out = sorted(
            ((lbl, len(rs), min(rs)) for lbl, rs in rows.items()),
            key=lambda x: (-x[1], x[0]),
        )
        return local_frame(self.spark, "label string, n_docs long, best_rank int", out)

    def total_hits(
        self, qtype: str, surface_terms: list[str], threshold: int = 1000,
        min_should: int = 0,
    ) -> DataFrame:
        """``TotalHits`` (value, relation) — numFound for the query: exact
        count up to ``threshold`` (relation EQ), the threshold as a lower
        bound beyond it (GTE) — ``L/search/TotalHits`` semantics made
        deterministic."""
        spec = self.searcher.parse(qtype, surface_terms, min_should)
        value, relation = self.searcher.total_hits(spec, threshold)
        return local_frame(self.spark, "value long, relation string", [(value, relation)])

    def terms_enum(
        self, prefix: str, mincount: int = 1, limit: int = 20
    ) -> DataFrame:
        """TermsComponent (``S/handler/component/TermsComponent`` over
        ``L/index/TermsEnum``): enumerate dictionary terms under a prefix
        with their df/ttf, ``terms.mincount`` filter, ``terms.sort=count``
        order (df desc, term asc), ``terms.limit`` rows.

        Scale shape: one pruned term_stats scan (startswith pushes to the
        parquet scan as a range predicate on the sorted term column) + one
        global TakeOrdered over the tiny surviving set."""
        ts = self.term_stats_df(min_df=mincount)
        return (
            ts.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
            .select("term", F.col("df").cast("long"), F.col("ttf").cast("long"))
        )

    def terms_enum_regex(
        self, pattern: str, mincount: int = 1, limit: int = 20
    ) -> DataFrame:
        """TermsComponent ``terms.regex`` (``S/handler/component/
        TermsComponent#createTermsFilters`` regex branch): enumerate
        dictionary terms matching a regular expression, same
        mincount/sort=count/limit semantics as the prefix form. The regex
        cannot push to the scan (unlike StartsWith), but it runs over the
        dictionary sidecar only — O(vocabulary), never postings."""
        ts = self.term_stats_df(min_df=mincount)
        return (
            ts.filter(F.col("term").rlike(pattern))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
            .select("term", F.col("df").cast("long"), F.col("ttf").cast("long"))
        )

    def cursor_page(
        self,
        qtype: str,
        surface_terms: list[str],
        sort_field: str = "n_chars",
        cursor: tuple[int, int] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """cursorMark deep paging (Solr ``CursorMark`` /
        ``S/search/CursorMark.java`` + the searchAfter machinery under it):
        the cursor IS the last row's sort key ``(sortval, doc_id)``, and
        the next page filters strictly past it — keyset pagination. Unlike
        ``start=N`` offset paging, page P costs the same as page 1 at any
        depth: the cursor predicate prunes BEFORE the top-k, nothing
        re-scans the skipped rows (exactly why upstream tells users to
        export with cursorMark, not offsets).

        Scale shape: the exact-match kernel + ONE broadcast column join;
        the cursor tuple-compare is a pushed filter and the page is ONE
        TakeOrdered of k rows — depth-independent."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        ).select("doc_id")
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), sort_field)
        j = hits.join(keys, "doc_id", "left").join(F.broadcast(src), "doc_key")
        if cursor is not None:
            cv, ck = int(cursor[0]), int(cursor[1])
            # strictly after (sortval DESC, doc_key ASC) position (cv, ck)
            j = j.filter(
                (F.col(sort_field) < cv)
                | ((F.col(sort_field) == cv) & (F.col("doc_key") > ck))
            )
        return ranked_top(j, k, F.desc(sort_field), F.asc("doc_key")).select(
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col(sort_field).cast("long").alias("sortval"),
        )

    def cursor_page2(
        self, qtype: str, surface_terms: list[str],
        sort_field: str = "n_chars", k: int = 10,
    ) -> DataFrame:
        """Second page via cursorMark continuation: run page 1, lift its
        last row's (sortval, doc_id) as the cursor, fetch the next page
        with the keyset predicate. The one-row cursor hand-off is the only
        driver-side state — identical to what a Solr client carries
        between requests."""
        p1 = self.cursor_page(qtype, surface_terms, sort_field, None, k).collect()
        if len(p1) < k:
            return self.cursor_page(qtype, surface_terms, sort_field, None, 0)
        last = p1[-1]
        return self.cursor_page(
            qtype, surface_terms, sort_field, (last.sortval, last.doc_id), k
        )

    def sorted_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        sort_field: str = "n_chars",
        ascending: bool = False,
        k: int = 10,
    ) -> DataFrame:
        """Sort-by-field search (Solr ``sort=field`` / ``L/search/Sort`` +
        ``SortField``, /export docvalues sort): the query selects the match
        set, ordering comes from a stored field, doc id breaks ties —
        scores are not computed into the order (Lucene skips scoring
        entirely when the sort needs no score).

        Scale shape: non-score sorts cannot WAND-prune (no impact bound on
        a stored field), so this is the exact-match kernel emitting every
        hit, a broadcast join to the pruned (doc_id, field) column read,
        and ONE global TakeOrdered on (field, doc) — the same plan Solr's
        /export handler runs per shard."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        ).select("doc_id")
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), sort_field)
        fld = F.asc(sort_field) if ascending else F.desc(sort_field)
        j = hits.join(keys, "doc_id", "left").join(F.broadcast(src), "doc_key")
        return ranked_top(j, k, fld, F.asc("doc_key")).select(
            "rank",
            F.col("doc_key").cast("long").alias("doc_id"),
            F.col(sort_field).cast("long").alias("sortval"),
        )

    def _monitor_candidate_specs(self, stored: dict[str, tuple]) -> dict:
        """TermFilteredPresearcher pruning for the BATCH face
        (``lucene/monitor`` QueryIndex lookup, reference
        ``TermFilteredPresearcher#buildQuery``): the registry's minimal
        representative-term sets probe the INDEX DICTIONARY (one term-pruned
        term_stats scan — df>0 means the term exists in the corpus), and
        only queries with a present representative (plus the ANYTOKEN
        fallback set) compile and execute. At 10^5 standing queries over a
        corpus touching few of them, the scan/compile/kernel work drops to
        the candidate count; match-set identity is guaranteed by the same
        extraction-safety argument as the streaming face."""
        from .streaming.monitor import Presearcher

        specs = {
            qid: self.searcher.parse(qt, list(terms), msm)
            for qid, (qt, terms, msm) in stored.items()
        }
        pre = Presearcher(specs)
        reps = [str(t) for t in pre._terms]
        present = {t for t, df in self.searcher.term_stats(reps).items() if df > 0}
        return pre.candidates_from_terms(present)

    def monitor_matches(
        self, stored: dict[str, tuple], presearch: bool = True
    ) -> DataFrame:
        """Stored-query matching — the ``lucene/monitor`` module (né Luwak;
        ``lucene/monitor/src/java/.../monitor/Monitor.java#match``): a
        registry of standing queries is evaluated against documents, and
        each doc reports WHICH stored queries it matches (alerting,
        routing, classification-by-query). ``stored`` maps query_id →
        (qtype, terms, min_should).

        Scale shape: the whole registry compiles with ONE stats job and
        executes as ONE batched per-segment kernel pass
        (``searcher.hits_many`` — the same shape Monitor's QueryIndex
        batching has), so cost is one corpus scan regardless of registry
        size; matching is unranked (no top-k truncation — a monitor must
        not drop matches). ``presearch`` prunes the registry against the
        index dictionary first (``_monitor_candidate_specs``) — identical
        matches, candidate-sized compile/execute."""
        if presearch:
            cand = self._monitor_candidate_specs(stored)
            specs = {qid: (spec, 1 << 30) for qid, spec in cand.items()}
        else:
            specs = {
                qid: (self.searcher.parse(qt, list(terms), msm), 1 << 30)
                for qid, (qt, terms, msm) in stored.items()
            }
        if not specs:   # every standing query pruned: nothing can match
            return local_frame(self.spark, "query_id string, doc_id long")
        compiled = self.searcher.compile_many(specs)
        hits = self.searcher.hits_many(compiled, mode="exact")
        keys = self.searcher.docs.select("doc_id", "doc_key")
        return (
            hits.join(keys, "doc_id", "left")
            .select(
                "query_id", F.col("doc_key").cast("long").alias("doc_id")
            )
            .orderBy("query_id", "doc_id")
        )

    def analysis_debug(self, text: str) -> DataFrame:
        """Field-analysis debug handler (Solr ``/analysis/field`` —
        ``S/handler/AnalysisRequestHandlerBase#analyzeValue``): the token
        stream after EACH stage of the ``stop`` chain (tokenizer →
        lowercase → stopfilter), positions preserved across the stop holes
        exactly as FilteringTokenFilter increments them. Runs as JVM column
        expressions over a one-row literal (this is a per-request debug
        surface, not a corpus op) — which makes the entry a driver-checked
        SQL-equivalence certificate for the chain itself."""
        from .analysis import ENGLISH_STOP_WORDS
        from .ops.textmetrics import TOKEN_RE

        base = self.spark.range(1).select(F.lit(text).alias("text")).select(
            F.posexplode(
                F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)
            ).alias("pos", "raw")
        )
        tok = base.select(F.lit("1_tokenizer").alias("stage"),
                          F.col("pos").cast("int").alias("pos"),
                          F.col("raw").alias("token"))
        low = base.select(F.lit("2_lowercase").alias("stage"),
                          F.col("pos").cast("int").alias("pos"),
                          F.lower("raw").alias("token"))
        stop_arr = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOP_WORDS)])
        stp = (
            base.select(F.col("pos").cast("int").alias("pos"),
                        F.lower("raw").alias("token"))
            .filter(~F.array_contains(stop_arr, F.col("token")))
            .select(F.lit("3_stopfilter").alias("stage"), "pos", "token")
        )
        return tok.unionByName(low).unionByName(stp).orderBy("stage", "pos")

    def suggest_freetext(
        self, context: str, prefix: str, k: int = 8, alpha: float = 0.4
    ) -> DataFrame:
        """FreeTextSuggester (``lucene/suggest/.../analyzing/
        FreeTextSuggester.java``): a 2-gram language model with
        stupid-backoff smoothing (Brants et al. 2007, ALPHA=0.4) over the
        analyzed corpus — NOT the search index; like the reference, the
        suggester builds its own n-gram model from the token stream.
        Given a completed context token and the typed prefix of the next
        word: bigram candidates score count(ctx,w)/count(ctx); unigram
        backoff candidates (not already suggested by the higher order)
        score ALPHA · count(w)/totalTokens.

        Scale shape: tokenization + bigram pairing are pure JVM column ops
        (``zip_with`` over the token array — zero shuffle), then ONE
        groupBy each for the bigram and unigram count tables
        (partial+final agg); candidate filtering is a pushed prefix
        predicate. No UDF, no driver-side text."""
        an = self.searcher.analyzer
        ctx = an.analyze(context)[0][0]
        pfx = prefix.lower()
        from .ops.textmetrics import TOKEN_RE

        docs = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
            .alias("toks")
        )
        uni = (
            docs.select(F.explode("toks").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        big = (
            docs.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(toks) >= 2 THEN "
                        "zip_with(slice(toks, 1, size(toks)-1), "
                        "         slice(toks, 2, size(toks)-1), "
                        "         (a, b) -> struct(a AS w1, b AS w2)) "
                        "ELSE array() END"
                    )
                ).alias("bg")
            )
            .select("bg.w1", "bg.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ctx_cnt = uni.filter(F.col("term") == ctx).select(
            F.col("cnt").alias("ctx_cnt")
        )
        total = uni.agg(F.sum("cnt").alias("tot"))
        big_sc = (
            big.filter((F.col("w1") == ctx) & F.col("w2").startswith(pfx))
            .crossJoin(F.broadcast(ctx_cnt))
            .select(
                F.col("w2").alias("term"),
                (F.col("cnt").cast("double") / F.col("ctx_cnt").cast("double"))
                .alias("score"),
                F.lit(2).alias("grams"),
            )
        )
        uni_sc = (
            uni.filter(F.col("term").startswith(pfx))
            .join(big_sc.select("term"), "term", "left_anti")
            .crossJoin(F.broadcast(total))
            .select(
                "term",
                (F.lit(float(alpha))
                 * (F.col("cnt").cast("double") / F.col("tot").cast("double")))
                .alias("score"),
                F.lit(1).alias("grams"),
            )
        )
        return ranked_top(
            big_sc.unionByName(uni_sc), k, F.desc("score"), F.asc("term")
        ).select(
            "rank", "term", F.col("score").cast("double").alias("score"),
            F.col("grams").cast("int").alias("grams"),
        )

    def word_break(
        self, break_input: str, combine_inputs: tuple[str, str],
    ) -> DataFrame:
        """WordBreakSpellChecker (``lucene/suggest/.../spell/
        WordBreakSpellChecker.java``): ``suggestWordBreaks`` tries every
        split point of a run-together input and keeps splits whose BOTH
        halves exist in the term dictionary (maxChanges=1 — one break);
        ``suggestWordCombinations`` concatenates adjacent query terms and
        keeps combinations the dictionary contains. Break frequency =
        min(df_left, df_right) (the rarer half bounds the evidence, like
        SuggestWordFrequencyComparator on the weaker member); combine
        frequency = the combined term's df.

        Scale shape: the split-point list is O(len(word)) rows broadcast
        against the distributed term dictionary — two broadcast hash joins
        + one pushed equality filter; the dictionary never moves."""
        ts = self.term_stats_df(min_df=1)
        splits = [
            (break_input[:i], break_input[i:])
            for i in range(1, len(break_input))
        ]
        sdf = self.spark.createDataFrame(splits, "lterm string, rterm string")
        l = ts.select(F.col("term").alias("lterm"), F.col("df").alias("ldf"))
        r = ts.select(F.col("term").alias("rterm"), F.col("df").alias("rdf"))
        brk = (
            l.join(F.broadcast(sdf), "lterm")
            .join(r, "rterm")
            .select(
                F.lit("break").alias("kind"),
                F.concat_ws(" ", "lterm", "rterm").alias("suggestion"),
                F.least("ldf", "rdf").cast("long").alias("freq"),
            )
        )
        cat = combine_inputs[0] + combine_inputs[1]
        comb = ts.filter(F.col("term") == cat).select(
            F.lit("combine").alias("kind"),
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("freq"),
        )
        return brk.unionByName(comb).orderBy(
            F.asc("kind"), F.desc("freq"), F.asc("suggestion")
        )

    def boostfunc_topk(
        self, qtype: str, surface_terms: list[str], k: int = 10
    ) -> DataFrame:
        """Multiplicative function boost (edismax ``boost=`` /
        ``L/queries/function/FunctionScoreQuery``): final score =
        f32( f64(bm25) · (1 + n_chars/1000) ) — the relevance score of
        every match re-weighted by a document-value function, then top-k.

        Scale shape: an unbounded multiplicative function admits no
        block-max impact bound, so — exactly like Lucene's
        FunctionScoreQuery — every match is scored: exact kernel hits,
        broadcast join to the pruned (doc_id, n_chars) column, one global
        TakeOrdered. (A bounded function would re-enable WAND via
        max-impact · max-func.)"""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        boosted = (
            hits.join(keys, "doc_id", "left")
            .join(F.broadcast(src), "doc_key")
            .withColumn(
                "bscore",
                (
                    F.col("score").cast("double")
                    * (F.lit(1.0) + F.col("n_chars").cast("double") / F.lit(1000.0))
                ).cast("float"),
            )
        )
        return _present(
            ranked_top(boosted, k, F.desc("bscore"), F.asc("doc_key")), score="bscore"
        )

    def external_file_boost_topk(
        self, qtype: str, surface_terms: list[str], k: int = 10
    ) -> DataFrame:
        """ExternalFileField boost (``S/schema/ExternalFileField.java`` +
        ``S/search/function/FileFloatSource``): a per-doc float sourced
        OUTSIDE the index — keyed on the unique key, reloadable without
        reindexing (Solr's external_<field>.txt; here a side parquet table,
        the embeddings table's first vector component) — used as an
        additive boost function: score = f32(f64(bm25) + f64(ext)), with
        Solr's defVal=0 for keys absent from the external source.

        Scale shape: the external source is a keyed columnar table, not an
        in-heap FileFloatSource array — ONE pruned (key, value) read
        broadcast-joined to the match set; swapping the file = swapping the
        table path, no index rewrite."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        ext = self.spark.read.parquet(
            os.path.join(self.sf_dir, "embeddings.parquet")
        ).select(
            F.col("vec_id").alias("doc_key"),
            F.col("embedding")[0].cast("float").alias("ext"),
        )
        boosted = (
            hits.join(keys, "doc_id", "left")
            .join(F.broadcast(ext), "doc_key", "left")
            .withColumn(
                "bscore",
                (
                    F.col("score").cast("double")
                    + F.coalesce(F.col("ext").cast("double"), F.lit(0.0))
                ).cast("float"),
            )
        )
        return _present(
            ranked_top(boosted, k, F.desc("bscore"), F.asc("doc_key")), score="bscore"
        )

    def boost_by_query_topk(
        self,
        qtype: str,
        surface_terms: list[str],
        bq_qtype: str,
        bq_surface_terms: list[str],
        b: float,
        k: int = 10,
    ) -> DataFrame:
        """``FunctionScoreQuery#boostByQuery`` (``L/queries/.../function/
        FunctionScoreQuery.java``; the modern replacement for BoostingQuery
        and Solr's ``{!boost}`` with a query-valued source): docs that ALSO
        match the boost query have their main score MULTIPLIED by ``b``;
        everyone else keeps their score — the boost query contributes no
        score of its own and cannot add new matches.

        Scale shape: two independent unranked per-segment match kernels
        (main + boost, each with its own term-IN-list pushdown), one
        broadcast left join on doc_id, ONE TakeOrdered."""
        import numpy as np

        s = self.searcher
        spec = s.parse(qtype, surface_terms, 0)
        hits = s.hits(s.compile(spec, k=1 << 30), mode="exact")
        bspec = s.parse(bq_qtype, bq_surface_terms, 0)
        bset = (
            s.hits(s.compile(bspec, k=1 << 30), mode="exact")
            .select("doc_id").distinct()
            .withColumn("boosted", F.lit(True))
        )
        bf32 = float(np.float32(b))
        keys = s.docs.select("doc_id", "doc_key")
        scored = (
            hits.join(F.broadcast(bset), "doc_id", "left")
            .withColumn(
                "bscore",
                (
                    F.col("score").cast("double")
                    * F.when(F.col("boosted"), F.lit(bf32)).otherwise(F.lit(1.0))
                ).cast("float"),
            )
            .join(keys, "doc_id", "left")
        )
        return _present(
            ranked_top(scored, k, F.desc("bscore"), F.asc("doc_key")), score="bscore"
        )

    def bf_topk(
        self, qtype: str, surface_terms: list[str], k: int = 10
    ) -> DataFrame:
        """ADDITIVE boost function (edismax ``bf=`` — appended as an
        optional FunctionQuery clause, ``S/search/ExtendedDismaxQParser``;
        distinct from the multiplicative ``boost=``): final score =
        f32( f64(bm25) + n_chars/2000 ) — the function value is ADDED to
        every match's relevance score.

        Scale shape: same as the multiplicative variant — unbounded doc
        function ⇒ no WAND bound, exact hits + one broadcast column join +
        ONE TakeOrdered."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        src = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("doc_key"), "n_chars")
        boosted = (
            hits.join(keys, "doc_id", "left")
            .join(F.broadcast(src), "doc_key")
            .withColumn(
                "bscore",
                (
                    F.col("score").cast("double")
                    + F.col("n_chars").cast("double") / F.lit(2000.0)
                ).cast("float"),
            )
        )
        return _present(
            ranked_top(boosted, k, F.desc("bscore"), F.asc("doc_key")), score="bscore"
        )

    def mlt_text_topk(
        self, text: str, top_terms: int = 5, k: int = 10
    ) -> DataFrame:
        """MoreLikeThis over a FREE-TEXT body (Solr MLT handler with a
        posted document / ``mlt.interestingTerms`` on ``stream.body`` —
        ``S/handler/MoreLikeThisHandler`` ContentStream path): the query is
        not an indexed doc, so there is nothing to exclude; the posted
        text's terms rank by classic tf·idf against the INDEX's stats and
        the top terms form the disjunction.

        Scale shape: identical to doc-MLT minus the source-doc fetch — the
        df lookup is one term-pruned scan of the small term_stats table;
        execution is the ordinary WAND disjunction."""
        spec = self.searcher.more_like_this_spec(text, top_terms)
        return self.ranked(spec, k)

    def mlt_terms(self, src_doc_id: int, top_terms: int = 8) -> DataFrame:
        """MoreLikeThis ``interestingTerms=details`` (``lucene/queries/.../
        mlt/MoreLikeThis.java#retrieveInterestingTerms`` / Solr MLT handler
        mlt.interestingTerms): the source doc's terms ranked by classic
        tf·idf (idf = ln(N/(df+1)) + 1) — the terms the MLT disjunction is
        built from, WITH their scores. Returns (rank, term, mlt_score f32).

        Scale shape: one pruned single-doc read + one term-pruned df
        lookup (the same stats scan every query compile does)."""
        spec_terms = self.searcher.more_like_this_terms(
            self._doc_text(src_doc_id), top_terms
        )
        import numpy as np

        rows = [
            (i + 1, t, float(np.float32(sc)))
            for i, (t, sc) in enumerate(spec_terms)
        ]
        return local_frame(self.spark, "rank int, term string, mlt_score float", rows)

    def _doc_text(self, src_doc_id: int) -> str:
        return (
            self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") == src_doc_id)
            .select("text").collect()[0].text
        )

    def docs_norms(self) -> DataFrame:
        """The per-doc (length, norm) map — Lucene's norms file as a table."""
        return (
            self.searcher.docs.select(
                F.col("doc_key").cast("long").alias("doc_id"),
                F.col("length").cast("long").alias("length"),
                F.col("norm").cast("int").alias("norm"),
            )
            .orderBy("doc_id")
        )

    def term_stats_df(self, min_df: int = 1) -> DataFrame:
        """Global (term, df, ttf) — TermStates#build as a table. Synthetic
        keyword-field terms (`\\x01col:value`) are internal and excluded."""
        from .index.build import KEYWORD_PREFIX

        ts = read_term_stats(self.spark, self.index_dir)
        return (
            ts.filter(
                (F.col("df") >= min_df) & ~F.col("term").startswith(KEYWORD_PREFIX)
            )
            .select("term", F.col("df").cast("long"), F.col("ttf").cast("long"))
        )

    def collection_stats_df(self) -> DataFrame:
        st = self.spark.read.parquet(os.path.join(self.index_dir, "stats"))
        return st.select(
            F.col("doc_count").cast("long"),
            F.col("sum_ttf").cast("long"),
            (F.col("sum_ttf").cast("double") / F.col("doc_count")).cast("float").alias("avgdl"),
        )

    def field_summary(self) -> DataFrame:
        """Luke handler analog (``/admin/luke`` —
        ``S/handler/admin/LukeRequestHandler#getIndexedFieldsInfo``, topTerms
        via ``L/misc/HighFreqTerms``): per indexed field, the dictionary-level
        summary — distinct terms, Σ docFreq, Σ totalTermFreq, and the
        highest-docFreq term (ties to the lexicographically first) — the
        index-introspection surface every Solr admin screen reads. Keyword
        fields are the ``\\x01col:value`` synthetic terms; the analyzed text
        field is everything else.

        Scale shape: ONE scan of the term_stats table (O(vocabulary), tiny
        next to postings) + one hash-agg; the argmax is a (−df, term)
        struct-min inside the same agg — no postings decode, no doc scan."""
        from .index.build import KEYWORD_PREFIX

        ts = read_term_stats(self.spark, self.index_dir)
        is_kw = F.col("term").startswith(KEYWORD_PREFIX)
        raw = F.expr("substring(term, 2)")
        per = ts.select(
            F.when(is_kw, F.substring_index(raw, ":", 1))
            .otherwise(F.lit("text")).alias("field"),
            F.when(is_kw, F.regexp_replace(raw, "^[^:]*:", ""))
            .otherwise(F.col("term")).alias("term"),
            F.col("df").cast("long").alias("df"),
            F.col("ttf").cast("long").alias("ttf"),
        )
        b = F.min(F.struct((-F.col("df")).alias("ndf"), F.col("term").alias("t")))
        return (
            per.groupBy("field")
            .agg(
                F.count(F.lit(1)).cast("long").alias("num_terms"),
                F.sum("df").cast("long").alias("sum_df"),
                F.sum("ttf").cast("long").alias("sum_ttf"),
                b.alias("b"),
            )
            .select(
                "field", "num_terms", "sum_df", "sum_ttf",
                F.col("b.t").alias("top_term"),
                (-F.col("b.ndf")).cast("long").alias("top_df"),
            )
            .orderBy("field")
        )

    def tagger(self, text: str) -> DataFrame:
        """Text Tagger (Solr ``/tag`` handler — ``S/handler/tagger/
        TaggerRequestHandler``, the SolrTextTagger contrib): run the posted
        text through the index analyzer and emit every token position whose
        term exists in the index's term dictionary, with its docFreq — the
        dictionary-annotation primitive (entity linking / gazetteer tagging
        against a corpus-derived dictionary). Upstream matches multi-word
        dictionary entries longest-first through an FST; this dictionary is
        unigram (the text index's terms), where longest-match degenerates
        to per-token lookup — a shingle-analyzer index would supply
        multi-word entries through the identical join.

        Scale shape: the posted text is O(request) and analyzed driver-side
        (like every query string); the dictionary lookup is ONE term-pruned
        scan of the small term_stats table (IN-list pushed to parquet), no
        broadcast of anything corpus-sized, no posting decode."""
        toks = self.searcher.analyzer.analyze(text)
        pairs = [(int(p), t) for t, p in toks]
        q = self.spark.createDataFrame(pairs, "pos int, term string")
        terms = sorted({t for _, t in pairs})
        ts = self.term_stats_df().filter(F.col("term").isin(terms)).select("term", "df")
        return (
            q.join(ts, "term")
            .select(F.col("pos").cast("int"), "term", F.col("df").cast("long"))
            .orderBy("pos")
        )

    def rtg(self, doc_keys: list[int]) -> DataFrame:
        """RealTime Get: per requested key, the live stored document —
        (found flag, stored fields, indexed length) — from the index's doc
        map, which includes soft-committed appended segments.

        Scale shape: the request keys are a broadcast literal frame joined
        against the docs map (parquet min/max on the sorted doc_key column
        prunes untouched segments); no driver-side doc store."""
        q = self.spark.createDataFrame(
            [(i, int(k)) for i, k in enumerate(doc_keys)], "qpos int, doc_key long"
        )
        d = self.searcher.docs.select("doc_key", "source", "lang", "length")
        # broadcast SEMI prunes the doc-map scan to the requested keys
        # (≤len(keys) rows survive), then the tiny hit set broadcasts into
        # the left join that restores not-found rows
        hit = d.join(F.broadcast(q.select("doc_key")), "doc_key", "left_semi")
        return (
            q.join(F.broadcast(hit), "doc_key", "left")
            .select(
                "qpos",
                "doc_key",
                F.when(F.col("length").isNotNull(), 1).otherwise(0)
                .cast("int").alias("found"),
                "source",
                "lang",
                F.col("length").cast("long").alias("length"),
            )
            .orderBy("qpos")
        )

    def dv_values(self) -> DataFrame:
        """(doc_key, value) — generation-stacked resolution of the
        ``popularity`` docvalues field over the index-time base."""
        from .index.updates import numeric_docvalues

        base = self.searcher.docs.select(
            "doc_key", (F.col("doc_key") % 7 + 1).cast("double").alias("value")
        )
        return numeric_docvalues(self.spark, self.index_dir, DV_FIELD, base)

    def dv_boost_topk(
        self, qtype: str, surface_terms: list[str], k: int = 10,
    ) -> DataFrame:
        """Function boost by the UPDATED docvalues field:
        score = f32(f64(bm25) * f64(popularity)) — the product(score, field(f))
        shape (``L/queries/function/FunctionScoreQuery#boostByValue``) whose
        entire point is that a dvGen update re-ranks immediately.

        Scale shape: unranked hits joined to the resolved DV view (keyed
        columnar join, O(matches)); top-k is the standard small-side
        TakeOrdered tail."""
        spec = self.searcher.parse(qtype, surface_terms, 0)
        hits = self.searcher.hits(
            self.searcher.compile(spec, k=1 << 30), mode="exact"
        )
        keys = self.searcher.docs.select("doc_id", "doc_key")
        boosted = (
            hits.join(keys, "doc_id", "left")
            .join(self.dv_values(), "doc_key", "left")
            .withColumn(
                "bscore",
                (F.col("score").cast("double") * F.col("value")).cast("float"),
            )
        )
        return _present(
            ranked_top(boosted, k, F.desc("bscore"), F.asc("doc_key")), score="bscore"
        )


def complex_phrase_parts(query: str, analyzer) -> list[tuple[str, str]]:
    """Parse a ComplexPhraseQueryParser phrase body (``L/queryparser/
    complexPhrase/ComplexPhraseQueryParser.java`` — surrounding quotes
    optional) into per-slot specs: a word containing ``*``/``?`` becomes
    ``("like", pattern)`` with Lucene wildcards translated to SQL LIKE
    (``*``→``%``, ``?``→``_``; literal ``%``/``_`` can't occur — the
    tokenizer never emits them), lowercased but NOT analyzed — upstream
    wildcard terms bypass the analyzer; any other word is analyzed to its
    single term: ``("term", t)``."""
    parts: list[tuple[str, str]] = []
    for word in query.strip().strip('"').split():
        if "*" in word or "?" in word:
            parts.append(("like", word.lower().replace("*", "%").replace("?", "_")))
        else:
            parts.append(("term", analyzer.analyze(word)[0][0]))
    return parts


# --- multi-field schema: a derived `title` field alongside `body` (=text) ---
# Each Lucene field is an independent posting store sharing the doc key —
# exactly this architecture's natural shape: one index per field, built over
# the same corpus with the same stable keys (L/index/FieldInfos: per-field
# postings/norms; L/search/similarities: per-field collection statistics).

TITLE_EXPR = "array_join(slice(split(text, ' '), 1, 8), ' ')"
TITLE_EXPR_SQL = "array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')"
QF_TITLE_W = 2.0   # eDisMax qf="title^2 body^1"
QF_BODY_W = 1.0
TITLE = IndexRecipe(text_expr=TITLE_EXPR)


# --- analyzer-fixture engines: deterministic corpus injections ---------------
# The driver corpus is plain lowercase words, so the surfaces these chains
# exist for (digit runs, URLs, emails) never occur; each fixture appends a
# deterministic doc_id-derived suffix (an ``IndexRecipe(text_expr=...)``). The expressions are valid Spark SQL
# AND DuckDB SQL verbatim — the oracle (fixture_text_topk_sql) embeds the
# SAME string, so both engines index the identical derived corpus.
_PATREPLACE_TEXT_T = (
    "concat(text,"
    " case when {id} % 7 = 0 then ' merge42 2024' else '' end,"
    " case when {id} % 11 = 0 then ' batch7' else '' end)"
)
_URLEMAIL_TEXT_T = (
    "concat(text,"
    " case when {id} % 10 = 0 then"
    " ' see https://docs.example.org/merge-guide'"
    " when {id} % 10 = 5 then ' mail dev-team@spark.test'"
    " else '' end)"
)
# Spark side sees the key AFTER the doc_id → doc_key rename; DuckDB reads
# the raw documents view. Same expression text otherwise.
PATREPLACE_TEXT_EXPR = _PATREPLACE_TEXT_T.format(id="doc_key")
PATREPLACE_TEXT_SQL = _PATREPLACE_TEXT_T.format(id="doc_id")
URLEMAIL_TEXT_EXPR = _URLEMAIL_TEXT_T.format(id="doc_key")
URLEMAIL_TEXT_SQL = _URLEMAIL_TEXT_T.format(id="doc_id")

# UAX#29 unicode fixture: deterministic multilingual suffixes (Cyrillic,
# Greek, accented Latin, Han+Katakana, decimal numbers) route every doc
# through the full word-break path (``analysis/uax29.py`` — Han singles,
# Katakana runs, MidNumLet digit joins). Valid Spark SQL AND DuckDB SQL
# verbatim; the oracle tokenizes with the script-class RE2 pattern
# (oracles.UNI_TOKEN_SQL) that agrees with UAX#29 on this vocabulary.
_UNICODE_TEXT_T = (
    "concat(text,"
    " case when {id} % 5 = 0 then ' поиск данных быстрый поиск'"
    " when {id} % 5 = 1 then ' café naïve déjà 3.14'"
    " when {id} % 5 = 2 then ' Ελληνικά κείμενο αναζήτηση'"
    " when {id} % 5 = 3 then ' 検索 エンジン 索引'"
    " else ' recherche données requête' end)"
)
UNICODE_TEXT_EXPR = _UNICODE_TEXT_T.format(id="doc_key")
UNICODE_TEXT_SQL = _UNICODE_TEXT_T.format(id="doc_id")


# --- copyField catchall (managed-schema copyField → ``_text_``) --------------
# Solr's default schema copies every field into the ``_text_`` catchall
# (``S/schema/IndexSchema#getCopyFieldsList``, ``copyField source="*"
# dest="_text_"``): one field searches body text AND keyword metadata
# together, each copied value appended to the same token stream (positions
# continue across copies, norms count the combined length — upstream
# copyField appends to the destination field's inverted state). Here the
# catchall = text + lang + source; the expression runs verbatim in DuckDB.
COPYFIELD_TEXT_EXPR = "concat(text, ' ', lang, ' ', source)"
COPYFIELD = IndexRecipe(text_expr=COPYFIELD_TEXT_EXPR)


def fielded_dismax_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
    tie: float = 0.0,
) -> DataFrame:
    """eDisMax ``qf="title^2 body^1"`` cross-field query
    (``S/search/ExtendedDismaxQParser`` main-clause shape: per query word, a
    DisjunctionMaxQuery over the per-field term queries; here the whole
    query scores per field then dismaxes, tie=0 — the qparser default).

    Each field carries its OWN postings, norms and collection statistics
    (independent avgdl/df — a term common in titles but rare in bodies gets
    different idf per field, exactly Lucene's per-field model). Per-field
    scores come from the same proven kernels (unranked ``searcher.hits``);
    the cross-field combine is one doc_key full-outer join + f32 greatest —
    no new scoring code, no extra shuffle beyond the join.

    Returns (rank, doc_id, score) — score = f32 max(w_f · s_f) over fields
    with a match, (score desc, doc_id asc) tiebreak. ``tie`` > 0 applies
    DisjunctionMaxScorer's tiebreak exactly: double max + tie · (sum − max)
    over the PRESENT fields' f32 leg scores, one f32 cast."""
    import numpy as np

    legs = []
    for eng, w, nm in (
        (get_engine(spark, sf_dir, analyzer, TITLE), QF_TITLE_W, "t"),
        (get_engine(spark, sf_dir, analyzer), QF_BODY_W, "b"),
    ):
        spec = eng.searcher.parse(qtype, surface_terms, 0)
        h = eng.searcher.hits(eng.searcher.compile(spec, k=1 << 30), mode="exact")
        wf = F.lit(float(np.float32(w))).cast("float")
        legs.append(
            h.join(eng.searcher.docs.select("doc_key", "doc_id"), "doc_id")
            .select(
                F.col("doc_key"),
                (wf * F.col("score")).cast("float").alias(f"s_{nm}"),
            )
        )
    return _dismax_field_page(legs, k, tie)


def _dismax_field_page(legs: list[DataFrame], k: int, tie: float = 0.0) -> DataFrame:
    """Cross-field combine shared by the fielded query family: full join on
    doc_key, DisjunctionMax over the present fields' f32 leg scores (tie>0
    = DisjunctionMaxScorer's double max + tie·(sum−max) fold, one f32
    cast), top-k by (score desc, doc_id asc), rank without a WindowExec."""
    neg_inf = F.lit(float("-inf")).cast("float")
    joined = legs[0].join(legs[1], "doc_key", "full")
    mx = F.greatest(
        F.coalesce(F.col("s_t"), neg_inf), F.coalesce(F.col("s_b"), neg_inf)
    )
    if tie:
        # DisjunctionMaxScorer#score: double scoreSum / scoreMax over the
        # matching sub-scorers, (float)(max + (sum - max) * tie) — an
        # absent field contributes nothing to either accumulator
        sum_d = (
            F.coalesce(F.col("s_t").cast("double"), F.lit(0.0))
            + F.coalesce(F.col("s_b").cast("double"), F.lit(0.0))
        )
        score = (
            mx.cast("double")
            + (sum_d - mx.cast("double")) * F.lit(float(tie))
        ).cast("float").alias("score")
    else:
        score = mx.alias("score")
    page = joined.select(F.col("doc_key").cast("long").alias("doc_key"), score)
    return _present(ranked_top(page, k, F.desc("score"), F.asc("doc_key")))


def blended_term_topk(
    spark: SparkSession,
    sf_dir: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
) -> DataFrame:
    """BlendedTermQuery across fields (``L/search/BlendedTermQuery`` — the
    class Elasticsearch's ``cross_fields`` is built on): for each query
    term, the docFreq is BLENDED to the MAX across the fields' term
    dictionaries, every per-field term query scores with that shared df
    (so a term common in bodies but rare in titles stops being
    over-rewarded in titles — the cross_fields fix), each field keeps its
    OWN norms/avgdl/docCount, and the fields combine by DisjunctionMax
    (tie=0, BlendedTermQuery.DisjunctionMaxRewrite).

    Per-field scoring runs on the standard kernels with the blended df
    bound at compile time (``compile_query(term_df=blend)`` — the
    TermStates-override shape); no new scoring code."""
    from .search.query import BooleanSpec, TermClause, compile_query

    title = get_engine(spark, sf_dir, analyzer, TITLE)
    body = get_engine(spark, sf_dir, analyzer)
    toks = [body.searcher.analyzer.analyze(s)[0][0] for s in surface_terms]
    spec = BooleanSpec(should=[TermClause(t) for t in toks])
    df_t, _ = title.searcher.term_stats_rows(toks)
    df_b, _ = body.searcher.term_stats_rows(toks)
    blend = {t: max(df_t.get(t, 0), df_b.get(t, 0)) for t in toks}
    legs = []
    for eng, nm in ((title, "t"), (body, "b")):
        q = compile_query(
            spec, blend, eng.searcher.stats.doc_count, eng.searcher.table(BM25),
            1 << 30,
        )
        legs.append(
            eng.searcher.hits(q, mode="exact")
            .join(eng.searcher.docs.select("doc_key", "doc_id"), "doc_id")
            .select("doc_key", F.col("score").alias(f"s_{nm}"))
        )
    return _dismax_field_page(legs, k)


# --- delete + re-add fixture (S/update/DirectUpdateHandler2#addDoc) ---------

UPDATE_MOD = 97                      # docs with doc_id % MOD == 0 are updated
UPDATE_SUFFIX = " vector update refresh"


def _step_update(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """In-place UPDATE of every doc with ``doc_id % UPDATE_MOD == 0`` (new
    text = old text + UPDATE_SUFFIX) via tombstone + re-add
    (index/updates.update_docs). Searches see the live corpus only; stats
    are refreshed so scores equal a fresh build over the post-update
    corpus. Re-added docs take internal ids AFTER all original docs
    (key-ordered within the appended batch) — the tiebreak order the
    DuckDB oracle reproduces."""
    from .index.updates import update_docs

    upd = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") % UPDATE_MOD == 0)
        .select(
            F.col("doc_id").alias("doc_key"),
            "source",
            "lang",
            F.concat(F.col("text"), F.lit(UPDATE_SUFFIX)).alias("text"),
        )
    )
    update_docs(spark, upd, index_dir, n_segments=4)


def _step_expunge(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """``<commit expungeDeletes=true>`` (``IndexWriter#forceMergeDeletes``,
    ``index/updates.expunge_deletes``): the tombstoned originals are
    PHYSICALLY rewritten out of postings/docs/norms, locals compact, bases
    re-derive. After ``update`` this moves the update from query-time
    tombstone filtering to the on-disk layout with zero observable change —
    which is why ``EXPUNGED`` shares ``ft_after_update_topk``'s oracle
    verbatim: a compaction bug in docID order, re-encoded impacts, or
    refreshed stats goes hash-red."""
    from .index.updates import expunge_deletes

    if not expunge_deletes(spark, index_dir)["expunged_docs"]:
        raise RuntimeError("expunge fixture reclaimed nothing")


def _step_commit_point(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Capture a COMMIT POINT (``index/commits.py``). A recipe holding this
    step opens its searcher AT the first retained commit
    (``DirectoryReader.open(IndexCommit)`` over a
    SnapshotDeletionPolicy-retained generation), so every query answers
    bitwise as the corpus before the later steps: the time-travel read
    the manifest-as-SegmentInfos storage model buys for free."""
    from .index.commits import commit_point

    commit_point(index_dir)


UPDATED = IndexRecipe(steps=("update",))
EXPUNGED = IndexRecipe(steps=("update", "expunge"))
ASOF = IndexRecipe(steps=("commit_point", "update"))


KNN_TEST_MOD = 10   # doc_id % MOD == 0 held out and classified
KNN_K = 10          # neighbors voting
KNN_TOP_TERMS = 4   # MLT query terms per test doc
# same token rule as analysis.analyzer._TOKEN_RE (the "simple" chain)
_KNN_TOKEN_RE = r"[0-9A-Za-z_](?:['’]?[0-9A-Za-z_]){0,254}"


# the classifier's training index: the TRAIN split only
TRAIN_SPLIT = IndexRecipe(row_filter=f"doc_key % {KNN_TEST_MOD} != 0")


def knn_classify(spark: SparkSession, sf_dir: str, analyzer: str = "simple") -> DataFrame:
    """k-nearest-neighbor text classifier over the index —
    ``lucene/classification/.../KNearestNeighborClassifier.java``: each
    unseen doc becomes a MoreLikeThis query (its top tf·idf terms, idf from
    the TRAIN index: ln(N/(df+1))+1), the train index returns the BM25
    top-``KNN_K`` neighbors, and the predicted class is the neighbors'
    majority label (count desc, class asc tiebreak).

    Batched, not looped: term selection for ALL held-out docs is one
    token-explode + term_stats equi-join + per-doc window; the resulting
    O(test docs × KNN_TOP_TERMS) term sets are collected only to COMPILE
    queries (Lucene builds the MLT query on the coordinating node too),
    and every compiled query executes in ONE ``search_many`` job — the
    whole-query-set scoring stage, not a per-doc driver loop. Votes are a
    fetch-fields-late join of the single hits table back to the source
    labels."""
    from .search.query import BooleanSpec, TermClause

    eng = get_engine(spark, sf_dir, analyzer, TRAIN_SPLIT)
    s = eng.searcher
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    test_tf = (
        src.filter(F.col("doc_id") % KNN_TEST_MOD == 0)
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_KNN_TOKEN_RE), 0)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ts = (
        read_term_stats(spark, eng.index_dir)
        .select("term", "df")
    )
    n = float(s.stats.doc_count)
    mlt = test_tf.join(ts, "term").withColumn(
        "m",
        F.col("tf").cast("double")
        * (F.log(F.lit(n) / (F.col("df").cast("double") + F.lit(1.0))) + F.lit(1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("m"), F.asc("term"))
    term_sets = (
        mlt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_TOP_TERMS)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("term")).alias("terms"))
        .collect()  # O(test docs × top_terms) strings — query compilation
    )
    compiled = s.compile_many({
        str(int(r.doc_id)): (
            BooleanSpec(should=[TermClause(t) for t in r.terms]), KNN_K
        )
        for r in term_sets
    })
    hits = s.search_many(compiled, mode="wand")

    labels = src.select(F.col("doc_id").alias("doc_key"), F.col("lang").alias("cls"))
    votes = (
        hits.join(s.docs.select("doc_id", "doc_key"), "doc_id")
        .join(labels, "doc_key")
        .groupBy("query_id", "cls")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("cls"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            F.col("query_id").cast("long").alias("doc_id"),
            F.col("cls").alias("label"),
            F.col("votes").cast("long").alias("votes"),
        )
        .orderBy("doc_id")
    )


DBQ_TERM = "dup"                     # deleteByQuery target: matches 25/500
                                     # sf0.01 docs — enough to shift the
                                     # global stats every survivor scores by


def _step_dbq(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """DELETE-BY-QUERY (``S/update/DirectUpdateHandler2#deleteByQuery``):
    every doc matching ``DBQ_TERM`` is tombstoned via the distributed
    match-set path (``index/updates.delete_by_query_hits`` — the hit set
    never touches the driver) and stats refresh, so surviving docs score
    exactly as a fresh build over the post-delete corpus (docCount, avgdl,
    and every df shrink)."""
    from .index.updates import delete_by_query_hits

    s = IndexSearcher(spark, index_dir)
    # k = unbounded: DBQ needs the FULL match set, and hits() keeps the
    # compiled k as its per-segment cap
    q = s.compile(s.parse("term", [DBQ_TERM]), k=1 << 30)
    delete_by_query_hits(spark, index_dir, s.hits(q, mode="exact"))


DBQ_DELETED = IndexRecipe(steps=("dbq",))


ATOMIC_MOD = 89                      # docs with doc_id % MOD == 0 get the op
ATOMIC_OPERAND = "atomic vector refresh"


def _step_atomic(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """ATOMIC partial update (field-level ``add`` op appending to
    ``text``) on every doc with ``doc_id % ATOMIC_MOD == 0`` — the
    ``AtomicUpdateDocumentMerger`` analog: the engine resolves the op
    against the live doc itself (distributed join with the
    source-of-record table), the caller supplies only (key, operand).
    Downstream mechanics (tombstone + re-add, stats refresh, internal-id
    ordering) are shared with ``_step_update``."""
    from .index.updates import atomic_update_docs

    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").alias("doc_key"), "source", "lang", "text"
    )
    ops = (
        src.filter(F.col("doc_key") % ATOMIC_MOD == 0)
        .select("doc_key", F.lit(ATOMIC_OPERAND).alias("text"))
    )
    atomic_update_docs(spark, index_dir, ops, {"text": "add"}, src, n_segments=4)


ATOMIC_UPDATED = IndexRecipe(steps=("atomic",))


# --- RealTime Get fixture (S/handler/component/RealTimeGetComponent) --------

# appended (soft-committed, never in the source parquet) docs: key, source,
# lang, text — deterministic so the DuckDB oracle can inline them as VALUES
RTG_BASE_KEY = 5_000_000
RTG_DOCS = [
    (RTG_BASE_KEY + 0, "rtg", "en", "realtime get doc zero merge batch stream"),
    (RTG_BASE_KEY + 1, "rtg", "en", "realtime get doc one vector filter"),
    (RTG_BASE_KEY + 2, "rtg", "de", "realtime get doc two scan table hash join"),
]


def _step_rtg(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """A soft-committed ``append_batch`` of brand-new docs
    (``RealTimeGetComponent`` / NRT ``openIfChanged`` visibility): a get
    by key (``DocumentsEngine.rtg``) must see appended docs immediately —
    before any merge — and report absence for unknown keys."""
    from .index.build import append_batch

    batch = spark.createDataFrame(
        RTG_DOCS, "doc_key long, source string, lang string, text string"
    )
    append_batch(spark, batch, index_dir, n_segments=1)


RTG_APPENDED = IndexRecipe(steps=("rtg",))


# --- distributed search with per-shard statistics (LocalStatsCache) ---------


def shard_recipe(shard: int, n_shards: int) -> IndexRecipe:
    """Hash-routed shard ``shard`` of ``n_shards``: its own index over
    ``doc_id % n_shards = shard``."""
    return IndexRecipe(row_filter=f"doc_id % {n_shards} = {shard}", n_segments=2)


def localstats_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
    n_shards: int = 4,
) -> DataFrame:
    """Distributed search over hash-routed shards with Solr's DEFAULT
    per-shard statistics (``S/search/stats/LocalStatsCache``; routing
    ``S/common/cloud/CompositeIdRouter``): each shard is its OWN index over
    ``doc_id % n_shards = shard`` and scores the query with ITS collection
    stats (df, docCount, avgdl) — the well-known SolrCloud ranking artifact
    where the same corpus ranks differently than a single-core collection
    (``ExactStatsCache`` is the global-stats fix; every OTHER query in this
    engine is exact-stats by construction, so this entry witnesses the
    difference). Merge follows ``S/handler/component/QueryComponent#mergeIds``:
    each shard returns its top-k by (score desc, doc_id asc), the union is
    re-ranked the same way, global top-k kept.

    Scale shape: shards are the parallel unit — n independent index builds
    + n kernel jobs that never exchange postings, merged by an n·k-row
    TakeOrdered; exactly SolrCloud's scatter-gather (no cross-shard
    shuffle, driver sees n·k (doc, score) rows)."""
    parts = [
        get_engine(spark, sf_dir, analyzer, shard_recipe(s, n_shards))
        .topk(qtype, surface_terms, k=k)
        .select("doc_id", "score")
        for s in range(n_shards)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return ranked_top(u, k, F.desc("score"), F.asc("doc_id")).select(
        "rank", "doc_id", F.col("score").cast("float").alias("score")
    )


def exactstats_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
    n_shards: int = 4,
) -> DataFrame:
    """Distributed search over hash-routed shards with GLOBAL statistics
    (``S/search/stats/ExactStatsCache``; alias/collection scatter-gather
    ``S/handler/component/QueryComponent``): phase 1 gathers every shard's
    per-term df/ttf and collection (docCount, sumTTF) and MERGES them —
    exact integer sums, so idf, avgdl and the norm cache bind to the same
    values a single-core collection computes; phase 2 runs the compiled
    query against each shard with those shared weights and merges per-shard
    top-k by (score desc, key asc). Because the shards PARTITION the
    corpus and every weight is global, the page is bitwise identical to
    the single-collection engine — the exact property ExactStatsCache
    exists to restore (contrast ``localstats_topk``, which witnesses the
    per-shard-stats ranking artifact this fixes).

    Scale shape: stats exchange = one term-pruned scan of each shard's
    tiny term_stats table (the ShardRequest.PURPOSE_GET_TERM_STATS round);
    per-shard search jobs never exchange postings; merge is an n·k-row
    TakeOrdered."""
    searchers = [
        get_engine(spark, sf_dir, analyzer, shard_recipe(s, n_shards)).searcher
        for s in range(n_shards)
    ]
    spec = searchers[0].parse(qtype, surface_terms, 0)
    return scatter_gather_topk(searchers, spec, k)


def scatter_gather_topk(searchers, spec, k: int) -> DataFrame:
    """ExactStatsCache scatter-gather over ANY set of shard searchers that
    partition a corpus: merge per-shard term/collection stats exactly
    (integer sums), compile ONE weight set, search every shard with it,
    merge per-shard top-k by (score desc, key asc). Shared by the
    hash-routed alias fixture (``exactstats_topk``) and the SPLITSHARD
    children (``index/split.py``)."""
    from .search.bm25 import CollectionStats, norm_cache
    from .search.query import compile_query

    terms = sorted(set(spec.all_terms()))
    df_map: dict[str, int] = {t: 0 for t in terms}
    ttf_map: dict[str, int] = {t: 0 for t in terms}
    doc_count = 0
    sum_ttf = 0
    for s in searchers:
        dfm, ttfm = s.term_stats_rows(terms)
        for t in terms:
            df_map[t] += int(dfm.get(t, 0))
            ttf_map[t] += int(ttfm.get(t, 0))
        st = s.stats
        doc_count += st.doc_count
        sum_ttf += st.sum_total_term_freq
    cache = norm_cache(CollectionStats(doc_count, sum_ttf).avgdl)
    q = compile_query(spec, df_map, doc_count, cache, k, sum_ttf=sum_ttf)
    legs = []
    for s in searchers:
        legs.append(
            s.search(q, k=k, with_keys=True)
            .select(F.col("doc_key").cast("long").alias("doc_id"), "score")
        )
    u = legs[0]
    for p in legs[1:]:
        u = u.unionAll(p)
    return ranked_top(u, k, F.desc("score"), F.asc("doc_id")).select(
        "rank", "doc_id", F.col("score").cast("float").alias("score")
    )


# --- SPLITSHARD: split the committed docs index, search the children ---------

SPLIT_N = 3


def get_split_searchers(
    spark: SparkSession, sf_dir: str, analyzer: str = "simple", n: int = SPLIT_N
):
    """Split the base documents index into ``n`` hash-routed children
    (``index/split.split_index`` — hard-linked segments + child tombstones
    + refreshed stats) and return their searchers. Published once per
    (parent, n) through ``_publish``; reopens afterwards."""
    from .index.split import split_index

    parent = get_engine(spark, sf_dir, analyzer)
    out_root = _publish(
        parent.index_dir + f"-split{n}",
        lambda tmp: split_index(spark, parent.index_dir, n, tmp),
    )
    return _memo(out_root, lambda: [
        IndexSearcher(spark, os.path.join(out_root, f"shard{c}")) for c in range(n)
    ])


def split_union_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
    n: int = SPLIT_N,
) -> DataFrame:
    """SolrIndexSplitter invariant, driver-checked: a scatter-gather search
    over the split children with merged exact stats is BITWISE the parent
    collection's page (same postings/norms/local-ids through the child
    liveDocs masks; stats refresh per child; global weights re-merged) —
    the oracle is the plain single-collection BM25 oracle verbatim."""
    searchers = get_split_searchers(spark, sf_dir, analyzer, n)
    spec = searchers[0].parse(qtype, surface_terms, 0)
    return scatter_gather_topk(searchers, spec, k)


DV_FIELD = "popularity"
DV_UPD1_MOD = 3   # gen-1 updates: doc_key % 3 == 0 → key % 5 + 10
DV_UPD2_MOD = 6   # gen-2 updates: doc_key % 6 == 0 → key % 4 + 2 (overrides gen 1)


def _step_dv(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """The numeric docvalues field ``popularity`` (index-time value =
    doc_key % 7 + 1) updated IN PLACE twice via
    ``IndexWriter#updateNumericDocValue``
    (``index/updates.update_numeric_docvalues``): generation 1 rewrites
    every ``doc_key % 3 == 0`` doc, generation 2 rewrites the ``% 6 == 0``
    subset again — so reads (``DocumentsEngine.dv_values``) must stack
    generations latest-wins over the base, with postings/norms/text
    untouched throughout (no tombstones, no re-add: this is the
    docvalues-only update path Lucene added so ranking signals can refresh
    without reindex cost)."""
    from .index.updates import update_numeric_docvalues

    keys = IndexSearcher(spark, index_dir).docs.select("doc_key")
    g1 = keys.filter(F.col("doc_key") % DV_UPD1_MOD == 0).select(
        "doc_key", (F.col("doc_key") % 5 + 10).cast("double").alias("value")
    )
    update_numeric_docvalues(spark, g1, index_dir, DV_FIELD)
    g2 = keys.filter(F.col("doc_key") % DV_UPD2_MOD == 0).select(
        "doc_key", (F.col("doc_key") % 4 + 2).cast("double").alias("value")
    )
    update_numeric_docvalues(spark, g2, index_dir, DV_FIELD)


DV_UPDATED = IndexRecipe(steps=("dv",))


FMASK_PREFIX = "\x02title:"


def field_masking_span_topk(
    spark: SparkSession,
    sf_dir: str,
    title_surface: str,
    body_surface: str,
    slop: int,
    k: int = 10,
    analyzer: str = "simple",
) -> DataFrame:
    """FieldMaskingSpanQuery (``L/search/spans/FieldMaskingSpanQuery.java``):
    a span over the ``title`` field is MASKED to pretend it lives in
    ``body``, so an ordered SpanNear can pair a title occurrence with a
    later body occurrence in one position space — the lie the class exists
    to tell (its javadoc's parallel-field trick: fields tokenized in
    lockstep, here title = the first 8 whitespace words of body, so title
    positions coincide with the body positions of those words).

    Weight follows Lucene exactly: the SpanNear's SimWeight binds the
    OUTER (masked-to) field's collection statistics — body docCount,
    body norms — while each term contributes the idf of its OWN field's
    df (``SpanWeight#buildSimWeight`` gathers per-subquery TermStates; the
    title term's df is the title index's). Match/freq semantics are the
    ordered NearSpansOrdered rule of ``span_near_topk``.

    Scale shape: each body segment's scoring task reads BOTH fields'
    term-pruned postings of that segment — the segment layouts coincide by
    construction (same corpus order, same segment count), so masking adds
    no stage over a single-field span query; the masked term rides the
    kernel as a distinct synthetic term name."""
    import numpy as np

    from .search.bm25 import idf
    from .search.query import CompiledClause, CompiledQuery
    from .search.segtask import PostingsSource

    body = get_engine(spark, sf_dir, analyzer)
    title = get_engine(spark, sf_dir, analyzer, TITLE)
    bs, ts = body.searcher, title.searcher
    tt = ts.analyzer.analyze(title_surface)[0][0]
    bt = bs.analyzer.analyze(body_surface)[0][0]
    masked = FMASK_PREFIX + tt
    df_t = ts.term_stats([tt]).get(tt, 0)
    df_b = bs.term_stats([bt]).get(bt, 0)
    if df_t == 0 or df_b == 0:
        return local_frame(spark, "rank int, doc_id long, score float")
    doc_count = bs.stats.doc_count
    w = np.float32(
        float(idf(df_t, doc_count)) + float(idf(df_b, doc_count))
    )
    clause = CompiledClause(
        "span_near", (masked, bt), (), w, "must", slop=int(slop)
    )
    q = CompiledQuery(
        clauses=[clause], must_not_terms=(), min_should_match=0, k=k,
        cache=bs.table(BM25), n_must=1,
    )
    hits = bs.hits(q, "exact", with_keys=True, sources=(
        PostingsSource(bs.index_dir, (bt,)),
        PostingsSource(ts.index_dir, (tt,), alias={tt: masked}),
    ))
    return _present(ranked_top(hits, k, F.desc("score"), F.asc("doc_id")))


def get_addindexes_searcher(
    spark: SparkSession, sf_dir: str, analyzer: str = "simple"
) -> IndexSearcher:
    """Searcher over ``addIndexes(shard0, shard1)`` — the two hash-routed
    half-corpus indexes grafted into ONE physical index (file-level segment
    copy + rebase + re-finalize, ``index/merge.add_indexes``). Published
    through ``_publish`` and memoized like the engines."""
    from .index.merge import add_indexes

    shard_dirs = [
        get_engine(spark, sf_dir, analyzer, shard_recipe(s, 2)).index_dir
        for s in range(2)
    ]
    tag = hashlib.md5(("|".join(shard_dirs) + "|v2").encode()).hexdigest()[:16]
    dst = _publish(
        _cache_dir(f"addidx-{analyzer}-{tag}"),
        lambda tmp: add_indexes(spark, shard_dirs, tmp),
    )
    return _memo(dst, lambda: IndexSearcher(spark, dst))


def addindexes_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
) -> DataFrame:
    """Top-k over the grafted index. Scores are bitwise the single-
    collection engine's (global stats re-finalized over the union = the
    full corpus; norms copied per doc), so the oracle is the plain BM25
    oracle. Internal docIDs renumber across the graft (shard-0 segments
    first), so the page orders score ties by the STABLE doc key — within a
    segment key order equals local-id order (each shard is key-sorted),
    making the per-segment WAND top-k cut identical; only the final merge
    needs the key."""
    searcher = get_addindexes_searcher(spark, sf_dir, analyzer)
    spec = searcher.parse(qtype, surface_terms, 0)
    hits = searcher.hits(searcher.compile(spec, k), mode="wand")
    keys = searcher.docs.select("doc_id", "doc_key")
    return _present(ranked_top(
        hits.join(keys, "doc_id", "left"), k, F.desc("score"), F.asc("doc_key")
    ))


def get_tiered_searcher(
    spark: SparkSession, sf_dir: str, analyzer: str = "simple"
) -> IndexSearcher:
    """Searcher over one TieredMergePolicy round applied to the base
    documents index (``index/merge.find_merges`` selection +
    plan-driven ``merge_segments``): the 8 build segments fold by
    size tiers into fewer doc-contiguous segments, results bitwise
    invariant."""
    from .index.merge import tiered_merge

    base_dir = get_engine(spark, sf_dir, analyzer).index_dir

    def merge(tmp: str) -> None:
        plan = tiered_merge(spark, base_dir, tmp, segs_per_tier=4)
        if all(len(g) == 1 for g in plan):
            raise RuntimeError("tiered fixture merged nothing")

    tag = hashlib.md5((base_dir + "|tiered|v3").encode()).hexdigest()[:16]
    dst = _publish(_cache_dir(f"tiered-{analyzer}-{tag}"), merge)
    return _memo(dst, lambda: IndexSearcher(spark, dst))


def tiered_merge_topk(
    spark: SparkSession,
    sf_dir: str,
    qtype: str,
    surface_terms: list[str],
    k: int = 10,
    analyzer: str = "simple",
) -> DataFrame:
    """Top-k over the tiered-merged index — bitwise the base engine's page
    (merge invariance), so the oracle is the plain BM25 oracle."""
    searcher = get_tiered_searcher(spark, sf_dir, analyzer)
    spec = searcher.parse(qtype, surface_terms, 0)
    return _present(searcher.search(spec, k=k, with_keys=True))


# recipe step name → mutation applied to a private copy of the base index
_STEPS: dict[str, Callable[[SparkSession, str, str], None]] = {
    "update": _step_update,
    "expunge": _step_expunge,
    "commit_point": _step_commit_point,
    "dbq": _step_dbq,
    "atomic": _step_atomic,
    "rtg": _step_rtg,
    "dv": _step_dv,
}
