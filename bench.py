"""Headline benchmark — one JSON line on stdout.

Measures the north-rule pipeline end-to-end:
  - transcripts_build : inverted-index build (lucene chain: lower/stop/porter)
    over a deterministic synthetic transcripts corpus sized to the SF
    (turns/sec is the north-star build metric; also reported).
  - transcripts_queries : the 50-query reference set (FIXTURES.md §2) run as
    ONE distributed job (block-max WAND per segment + global top-k merge).
  - documents_build + documents per-query timings over the driver-provided
    documents table at $SPARK_GRAFT_SF_DIR.
  - dedup_minhash / ann_cosine / facet_q1 : training-pipeline ops.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on). The JSON line records the
host's 1-minute load average before and after the suite, so co-tenancy shows
next to the timings.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# transcripts corpus size ~ linear in sf (sf0.1 → ~520k turns). Sized so the
# build phase amortizes fixed job overhead at 32 cores (a ~100k-turn corpus
# measures stage-setup latency, not throughput — 64 tasks of <2k turns each).
_SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
N_CONV = max(200, int(680_000 * _SF))


def _memory_hygiene() -> None:
    """Best-effort page-cache drop + compaction (no-op without root):
    fragmentation from prior jobs degrades high-core Arrow-UDF throughput up
    to 2x, making run-to-run numbers incomparable (see tools/scaling_bench)."""
    os.sync()
    for knob in ("drop_caches", "compact_memory"):
        try:
            with open(f"/proc/sys/vm/{knob}", "w") as f:
                f.write("1")
        except OSError:
            pass


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _best_of(fn, slow_s: float = 2.0) -> float:
    """Best (min) wall time of 3 runs, or of 2 when the first run takes
    ``slow_s`` or more — host co-tenancy on this box swings identical
    queries up to 10x run-to-run (measured); peak is the stable statistic
    (same protocol as the build timings / scaling_bench)."""
    times = [_timed(fn)]
    times += [_timed(fn) for _ in range(1 if times[0] >= slow_s else 2)]
    return min(times)


def main() -> None:
    _memory_hygiene()
    from lucene_solr_spark.session import get_spark
    from lucene_solr_spark.datagen import generate_transcripts, generate_queries
    from lucene_solr_spark.search.searcher import IndexSearcher
    from lucene_solr_spark.engine import get_engine

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    load_before = os.getloadavg()[0]
    t_all = time.monotonic()

    spark = get_spark("bench", cpus=CPUS)
    tmp = tempfile.mkdtemp(prefix="lss_bench_")
    try:
        # --- transcripts: generate (key-sorted files) → build → query set ---
        import pyarrow as pa
        import pyarrow.parquet as pq
        from lucene_solr_spark.index.build import build_index_presorted

        pdf = generate_transcripts(N_CONV).sort_values(
            ["conv_id", "turn_idx"]).reset_index(drop=True)
        n_turns = len(pdf)
        os.makedirs(f"{tmp}/transcripts", exist_ok=True)
        n_files = 2 * CPUS
        step = (n_turns + n_files - 1) // n_files
        for i in range(0, n_turns, step):
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[i:i + step], preserve_index=False),
                f"{tmp}/transcripts/part-{i // step:04d}.parquet",
            )

        # Best-of-2 (same protocol as tools/scaling_bench.py): the first
        # Warm the Python worker pool BEFORE the timed section: local[32]
        # spawns 32 Arrow-UDF workers lazily, each paying numpy/pyarrow/
        # analyzer imports on first use. At this corpus size (64 tasks of
        # ~8k turns each) that spawn cost dominates the first builds
        # (measured 31s → 9s → 5.6s across three identical back-to-back
        # builds); a real cluster's long-lived executors never re-pay it
        # per job, so steady-state is the honest throughput. One throwaway
        # mapInPandas over 64 one-row partitions forces every worker up
        # with the analyzer imported.
        def _warm(it):
            from lucene_solr_spark.analysis import LuceneChainAnalyzer

            a = LuceneChainAnalyzer()
            for b in it:
                a.analyze_batch(b["t"])
                yield b

        (
            spark.range(64).repartition(64)
            .selectExpr("cast(id as string) as t")
            .mapInPandas(_warm, "t string")
            .count()
        )

        # Best-of-3 (same protocol as tools/scaling_bench.py): residual
        # one-time costs (codegen, first-touch I/O) still land on the
        # first trial; the best measures steady-state build throughput.
        timings["transcripts_build"] = float("inf")
        for _ in range(3):
            shutil.rmtree(f"{tmp}/tindex", ignore_errors=True)
            t0 = time.monotonic()
            build_index_presorted(
                spark, f"{tmp}/transcripts", f"{tmp}/tindex",
                key_cols=("conv_id", "turn_idx"), analyzer="lucene",
                positions=True, files_per_segment=1,
            )
            timings["transcripts_build"] = min(
                timings["transcripts_build"], time.monotonic() - t0
            )
        extras["n_turns"] = float(n_turns)
        extras["build_turns_per_sec"] = n_turns / timings["transcripts_build"]

        # settle: the three builds just wrote ~GBs; let writeback drain so
        # the query timings don't pay the build's dirty-page flush (the
        # quiet-suite protocol's step — VERDICT r4 bench-noise item)
        os.sync()
        time.sleep(2)

        searcher = IndexSearcher(spark, f"{tmp}/tindex")
        qset = generate_queries()
        t0 = time.monotonic()
        compiled = searcher.compile_many({
            f"q{q['query_id']}": (searcher.parse(q["qtype"], q["terms"], q["min_should"]), q["k"])
            for q in qset
        })
        timings["transcripts_compile"] = time.monotonic() - t0
        n_hits = 0
        timings["transcripts_queries_50"] = float("inf")
        for _ in range(2):   # best-of-2, the per-query protocol
            t0 = time.monotonic()
            n_hits = searcher.search_many(compiled, mode="wand").count()
            timings["transcripts_queries_50"] = min(
                timings["transcripts_queries_50"], time.monotonic() - t0
            )
        extras["qset_hits"] = float(n_hits)
        extras["qset_qps"] = 50.0 / timings["transcripts_queries_50"]

        # --- documents table at SF_DIR: build + representative queries ---
        t0 = time.monotonic()
        get_engine(spark, SF_DIR, analyzer="simple")
        timings["documents_build"] = time.monotonic() - t0
        # each BENCH key times the registered driver entry of that name (the
        # entries run on the same memoized engine built above)
        from lucene_solr_spark.driver_queries import all_queries

        entries = all_queries()
        for key, name in {
            "q_term": "ft_term_topk",
            "q_and2": "ft_and2_topk",
            "q_or3": "ft_or3_topk",
            "q_phrase": "ft_phrase_topk",
            # round-2 operators: sloppy phrase, keyword-posting FILTER,
            # TotalHits count kernel, ClassicSimilarity
            "q_sloppy": "ft_sloppy_phrase_topk",
            "q_filter": "ft_filter_topk",
            "q_total_hits": "ft_total_hits",
            "q_tfidf": "ft_tfidf_topk",
            # round-3 operators: DFR similarity, highlighting, suggest,
            # rerank, multi-field qf (two per-field exact legs + doc_key
            # combine; the title index builds on the first trial), function
            # expressions, span-first, LTR
            "q_dfr": "ft_dfr_topk",
            "q_highlight": "ft_highlight_topk",
            "q_suggest": "ft_suggest",
            "q_rerank": "ft_rerank_topk",
            "q_fielded": "ft_fielded_qf_topk",
            "q_funcexpr": "ft_funcexpr_topk",
            "q_spanfirst": "ft_spanfirst_topk",
            "q_ltr": "ft_ltr_topk",
            # late round-3 operators: MultiPhrase slot union, query parser,
            # span-not, nested boolean
            "q_multiphrase": "ft_multiphrase_topk",
            "q_queryparser": "ft_queryparser_topk",
            "q_spannot": "ft_spannot_topk",
            "q_nested_bool": "ft_nested_bool_topk",
            # later round-3 operators: query-time join, span
            # containment, unordered intervals, RRF, FeatureField,
            # FreeTextSuggester, cursorMark
            "q_join": "ft_join_topk",
            "q_spancontain": "ft_spancontain_topk",
            "q_interval": "ft_interval_unordered_topk",
            "q_rrf": "ft_rrf_topk",
            "q_feature": "ft_feature_topk",
            "q_freetext_suggest": "ft_suggest_freetext",
            "q_cursor_page2": "ft_cursor_page2",
            # round-4 operators: surround parser (ordered+unordered spans),
            # SynonymQuery merged-stats scoring, PayloadScoreQuery
            "q_surround": "ft_surround_topk",
            "q_synonym": "ft_synonymquery_topk",
            "q_payload": "ft_payload_topk",
            # round-4 continuation operators: AxiomaticF2EXP similarity,
            # multi-passage highlighting
            "q_f2exp": "ft_f2exp_topk",
            "q_highlight2": "ft_highlight_passages",
        }.items():
            timings[key] = _best_of(
                lambda fn=entries[name]: fn(spark, SF_DIR).collect())

        # --- training-pipeline ops ---
        from lucene_solr_spark.ops.dedup import dedup_minhash_lsh
        from lucene_solr_spark.ops.ann import ann_cosine_topk
        from lucene_solr_spark.ops.facets import facet_metrics_q1

        timings["dedup_minhash"] = _best_of(
            lambda: dedup_minhash_lsh(spark, SF_DIR).count())
        timings["ann_cosine"] = _best_of(lambda: ann_cosine_topk(spark, SF_DIR).collect())
        from lucene_solr_spark.ops.ann import dedup_semantic
        from lucene_solr_spark.ops.pipeline import pack_sequences

        timings["dedup_semantic"] = _best_of(
            lambda: dedup_semantic(spark, SF_DIR).count())
        timings["pack_sequences"] = _best_of(
            lambda: pack_sequences(spark, SF_DIR).count())
        timings["facet_q1"] = _best_of(lambda: facet_metrics_q1(spark, SF_DIR).collect())
        from lucene_solr_spark.ops.pipeline import ngram_hotspots
        from lucene_solr_spark.ops.textmetrics import text_unigram_ppl

        timings["ngram_hotspots"] = _best_of(
            lambda: ngram_hotspots(spark, SF_DIR).collect())
        timings["text_unigram_ppl"] = _best_of(
            lambda: text_unigram_ppl(spark, SF_DIR).count())
        from lucene_solr_spark.ops.pipeline import dsir_select

        timings["dsir_select"] = _best_of(
            lambda: dsir_select(spark, SF_DIR).collect())
        from lucene_solr_spark.ops.pipeline import (
            pipeline_select, stream_heavy_hitters,
        )

        timings["pipeline_select"] = _best_of(
            lambda: pipeline_select(spark, SF_DIR).count())
        timings["heavy_hitters"] = _best_of(
            lambda: stream_heavy_hitters(spark, SF_DIR).collect())
        # late-continuation operators: BPE encode (chained string replaces)
        # and Naive Bayes classify (fold + argmax); the as-of/KNN entries
        # stay out — each builds its own variant index, which would time
        # index construction, not the operator
        from lucene_solr_spark.ops.pipeline import bpe_encode, classify_naive_bayes

        timings["bpe_encode"] = _best_of(
            lambda: bpe_encode(spark, SF_DIR).count())
        timings["classify_nb"] = _best_of(
            lambda: classify_naive_bayes(spark, SF_DIR).count())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = time.monotonic() - t_all
    print(json.dumps({
        "metric": "suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": _SF,
        "cpus": CPUS,
        "extras": {k: round(v, 3) for k, v in extras.items()},
        "loadavg_1m": {"before": load_before, "after": os.getloadavg()[0]},
    }))


if __name__ == "__main__":
    main()
