"""Physical-plan audit for the headline query paths — the evidence that the
declarative layers keep their scale properties: term predicates reach the
parquet scans as PushedFilters, segment access is PartitionFilter-pruned,
column pruning holds (ReadSchema), small sides broadcast, and no plan
contains a full-table sort or an unbounded crossJoin. Scored searches run
as one per-segment scoring stage whose postings reads happen inside the
task (``search/segtask.py``): their plans must show that stage with no
Exchange below it; their term, segment and column pruning is asserted by
``tests/test_segment_task.py`` instead. A ranked search
(``IndexSearcher.search``) collects that stage and merges its per-segment
top-k on the driver, so its page is a LocalTableScan: ``audit_ranked``
checks the stage on the same query's ``hits`` and the page on its own.

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)
Prints each audited plan plus a PASS/FAIL line per invariant.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


# the per-segment scoring stage: a MapInArrow straight over its Range (the
# outline's next line; "* " marks a codegen'd Range outside adaptive
# plans) — no scan, filter or Exchange feeds the scoring
SEG_TASK = r"MapInArrow \(\d+\)\n[ :]*\+- (\* )?Range \("
# any MapInArrow fed by something other than its Range
SEG_TASK_FED = r"MapInArrow \(\d+\)\n[ :]*\+- (?!(\* )?Range \()"
TOPK = r"TakeOrderedAndProject|GlobalLimit"
# a ranked search's page: the driver-merged rows, read by no scan (the
# LocalTableScan excepted) and moved by no Exchange
PAGE = r"LocalTableScan"
PAGE_SCAN = r"(?<!LocalTable)Scan"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _failures(plan: str, must: list[str], must_not: list[str]) -> list[str]:
    return [f"missing /{pat}/" for pat in must if not re.search(pat, plan)] + [
        f"found forbidden /{pat}/" for pat in must_not if re.search(pat, plan)
    ]


def _report(name: str, failures: list[str]) -> bool:
    for f in failures:
        print(f"FAIL {name}: {f}")
    if not failures:
        print(f"PASS {name}")
    return not failures


def audit(name: str, df, must: list[str], must_not: list[str]) -> bool:
    return _report(name, _failures(_plan(df), must, must_not))


def _scoring_stages(build):
    """``build()``'s frame, and the unranked ``hits`` frame of every
    scoring stage a searcher built meanwhile (``search`` collects its
    stage's ``hits`` and merges them on the driver)."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    stages = []
    real = IndexSearcher.hits

    def spy(self, *args, **kwargs):
        stages.append(real(self, *args, **kwargs))
        return stages[-1]

    IndexSearcher.hits = spy
    try:
        df = build()
    finally:
        IndexSearcher.hits = real
    return df, stages


def audit_ranked(
    name: str, build, must: list[str], must_not: list[str],
    page_must: tuple[str, ...] | list[str] = (PAGE,),
    page_must_not: tuple[str, ...] | list[str] = (r"Exchange", PAGE_SCAN),
) -> bool:
    """A ranked entry: ``must``/``must_not`` hold on its scoring stages
    (their plans joined in the order they ran), ``page_must``/
    ``page_must_not`` on the plan of the page ``build()`` returns."""
    page, stages = _scoring_stages(build)
    failures = _failures("\n".join(_plan(h) for h in stages), must, must_not)
    failures += [f"page {f}" for f in _failures(_plan(page), page_must, page_must_not)]
    return _report(name, failures)


def main() -> None:
    from lucene_solr_spark.session import get_spark
    from lucene_solr_spark.driver_queries import all_queries
    from lucene_solr_spark.engine import get_engine
    from lucene_solr_spark.ops.dedup import dedup_minhash_lsh
    from lucene_solr_spark.ops.ann import ann_lsh_topk
    from lucene_solr_spark.ops.facets import facet_metrics_q1

    spark = get_spark("plan-audit", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    eng = get_engine(spark, SF_DIR, "simple")
    entries = all_queries()
    results = []

    # 1. scored search: one per-segment scoring stage (its term-pruned
    # postings read runs inside the task), and nothing after it in Spark —
    # the page is the driver-merged LocalTableScan (no sort, no Exchange)
    results.append(audit_ranked(
        "bm25_topk_term_pruned_scan",
        lambda: eng.topk("or3", ["merge", "batch", "stream"], k=10),
        must=[SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 2. keyword FILTER rides the same scoring stage (posting intersection
    # inside the task, no driver-side id set)
    results.append(audit_ranked(
        "keyword_filter_pushdown",
        lambda: entries["ft_filter_topk"](spark, SF_DIR),
        must=[SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 3. fetch-fields-late: the task reads the key columns of its ≤k
    # survivors itself — no docs scan and no key join in the plan
    results.append(audit_ranked(
        "fetch_fields_late_column_pruning",
        lambda: eng.topk("term", ["spark"], k=10),
        must=[SEG_TASK],
        must_not=[r"text.*ReadSchema", r"Scan parquet", r"Join", SEG_TASK_FED],
    ))

    # 4. MinHash LSH dedup: no cartesian product anywhere — candidates come
    # from equi-joins on (band, band_hash)
    results.append(audit(
        "dedup_minhash_no_crossjoin",
        dedup_minhash_lsh(spark, SF_DIR),
        must=[r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"],
        must_not=[r"CartesianProduct"],
    ))

    # 5. LSH ANN: probe bands broadcast (only colliding vectors scored)
    results.append(audit(
        "ann_lsh_broadcast_probe",
        ann_lsh_topk(spark, SF_DIR),
        must=[r"BroadcastExchange"],
        must_not=[],
    ))

    # 6. facet aggregate: partial+final hash aggregate (map-side combine)
    results.append(audit(
        "facet_partial_final_agg",
        facet_metrics_q1(spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    ))

    # 7. facet-on-query (q= + facet.field=): hits from the scoring stage,
    # the stored-field side broadcast, hash-agg on top — and NO TakeOrdered
    # over the hit set before the aggregate (facets aggregate unranked hits)
    results.append(audit(
        "facet_on_query_pushdown_broadcast",
        eng.facet_on_query("and2", ["merge", "batch"], "source", limit=10),
        must=[SEG_TASK, r"BroadcastExchange", r"HashAggregate"],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 8. LTR rescore: candidate features join broadcast, model evaluated in
    # the JVM (no Python eval in the final projection stage)
    results.append(audit(
        "ltr_feature_join_broadcast",
        eng.ltr_rescore_topk(
            "or3", ["vector", "stream", "filter"], "merge",
            (1.0, 0.75, 0.5), rerank_docs=50, k=10,
        ),
        must=[r"BroadcastExchange"],
        must_not=[r"CartesianProduct"],
    ))

    # 9. pivot facet: the dim side broadcast, ONE shuffle family (the cube
    # agg + windows on aggregated cells), no crossJoin
    from lucene_solr_spark.ops.facets import facet_pivot

    results.append(audit(
        "facet_pivot_broadcast_dim",
        facet_pivot(spark, SF_DIR),
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    ))

    # 10. blockChildren facet domain: matched-parent set broadcast into the
    # children re-scan (semi-join), one hash-agg, no crossJoin
    results.append(audit(
        "facet_block_children_broadcast_parents",
        eng.facet_block_children("and2", ["merge", "batch"], "lang"),
        must=[r"BroadcastExchange", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    ))

    # 11. decontamination: the probe shingle table broadcast — corpus
    # shingles never shuffle through a join exchange; no crossJoin
    from lucene_solr_spark.ops.pipeline import decontaminate

    results.append(audit(
        "decontaminate_broadcast_probes",
        decontaminate(spark, SF_DIR),
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    ))

    # 12. nested boolean / multiphrase: the new clause kinds keep the
    # one-stage shape (all member terms are read inside the task)
    results.append(audit_ranked(
        "multiphrase_term_pruned_scan",
        lambda: entries["ft_multiphrase_topk"](spark, SF_DIR),
        must=[SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 13. query-time join ({!join}): the gathered join values re-enter the
    # OUTER query as keyword terms of its scoring stage (one fused posting
    # read, no driver id set, no crossJoin)
    results.append(audit_ranked(
        "join_filter_keyword_pushdown",
        lambda: eng.join_filter_topk(
            "or3", ["vector", "stream", "filter"], "and2", ["dup", "merge"],
            k=10,
        ),
        must=[SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 14. SemDeDup: within-cell pairs come from an EQUI-join on cell (the
    # broadcast centroid assignment), never a cartesian product
    from lucene_solr_spark.ops.ann import dedup_semantic

    results.append(audit(
        "dedup_semantic_cell_equijoin",
        dedup_semantic(spark, SF_DIR),
        must=[r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
              r"BroadcastExchange"],
        must_not=[r"CartesianProduct"],
    ))

    # 15. sequence packing: the distributed prefix sum leaves only
    # PARTITIONED window exec (partition key = group) — no single-partition
    # global window
    from lucene_solr_spark.ops.pipeline import pack_sequences

    results.append(audit(
        "pack_sequences_partitioned_window",
        pack_sequences(spark, SF_DIR),
        must=[r"windowspecdefinition\(grp#"],
        must_not=[r"CartesianProduct"],
    ))

    # 16. PQ/ADC: encode + ADC are pure JVM column expressions over ONE
    # scan — no Python UDF in the candidate pass, no join to build codes
    from lucene_solr_spark.ops.ann import ann_pq_topk

    results.append(audit(
        "ann_pq_jvm_encode_no_crossjoin",
        ann_pq_topk(spark, SF_DIR),
        must=[r"TakeOrderedAndProject"],
        must_not=[r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
    ))

    # 17. block-join score modes: ONE partial+final hash-agg on the parent
    # key (objectHashAggregate for the collect_list fold), broadcast doc map
    results.append(audit(
        "blockjoin_scores_single_agg_broadcast",
        eng.blockjoin_scores("or2", ["dup", "vector"], n_groups=5),
        must=[r"ObjectHashAggregate|SortAggregate", r"BroadcastHashJoin|BroadcastNestedLoop"],
        must_not=[r"CartesianProduct"],
    ))

    # 18. ngram hotspots: the 5-gram build is an array transform — NO
    # window exec (zero shuffle before the single hash-agg)
    from lucene_solr_spark.ops.pipeline import ngram_hotspots

    results.append(audit(
        "ngram_hotspots_no_window",
        ngram_hotspots(spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"Window", r"CartesianProduct", r"BatchEvalPython"],
    ))

    # 19. RRF: both legs keep their own scoring stage; fusion is a join of
    # two bounded (driver-merged) frames with ONE final TakeOrdered
    results.append(audit_ranked(
        "rrf_legs_pushed_bounded_fusion",
        lambda: eng.rrf_topk("or3", ["vector", "stream", "filter"],
                             "and2", ["merge", "batch"], n=40, k=10),
        must=[rf"(?s){SEG_TASK}.*{SEG_TASK}"],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
        page_must=[rf"(?s){PAGE}.*{PAGE}", TOPK],
        page_must_not=[r"CartesianProduct", PAGE_SCAN],
    ))

    # 20. payloads: the whole annotate→parse→score pipeline stays JVM-side
    # (no Python eval), aggregates with ONE hash-agg pair, no window
    from lucene_solr_spark.ops.payloads import payload_score_topk

    results.append(audit(
        "payload_fold_jvm_one_agg",
        payload_score_topk(spark, SF_DIR),
        must=[r"HashAggregate", r"TakeOrderedAndProject|GlobalLimit"],
        must_not=[r"BatchEvalPython", r"ArrowEvalPython", r"Window",
                  r"CartesianProduct"],
    ))

    # 21. ToChildBlockJoin: the tiny parent set broadcasts to the child
    # fan-out, hits from the scoring stage. (The hits↔doc-keys join inside
    # the roll-up is ALLOWED to sort-merge — both sides are large at scale
    # and SMJ is the right strategy there; only the fan-out must broadcast
    # and nothing may cross-join.)
    results.append(audit(
        "blockjoin_children_broadcast_fanout",
        eng.blockjoin_children("or2", ["dup", "vector"], n_parents=2),
        must=[r"BroadcastHashJoin", SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 22. surround spans: both distance clauses ride the SAME scoring
    # stage (one term-pruned read per segment), a driver-merged page
    results.append(audit_ranked(
        "surround_spans_pushed_scan",
        lambda: entries["ft_surround_topk"](spark, SF_DIR),
        must=[SEG_TASK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 23. DSIR selection: the O(B) hashed LMs broadcast back onto the
    # (doc, bucket) aggregate — corpus-side rows never shuffle for the
    # join; no Python in the weight computation; one TakeOrdered top-K
    from lucene_solr_spark.ops.pipeline import dsir_select

    results.append(audit(
        "dsir_lm_broadcast_no_corpus_shuffle_join",
        dsir_select(spark, SF_DIR),
        must=[r"BroadcastHashJoin", r"HashAggregate",
              r"TakeOrderedAndProject|GlobalLimit"],
        must_not=[r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
    ))

    # 24. composed selection funnel: no CartesianProduct anywhere in the
    # quality+exact-dup+near-dup composition, no row-at-a-time Python, and
    # the stages glue with hash joins (the CC superstep loop checkpoints,
    # so only the final plan is visible — the shingle self-join bound is
    # audited in the dedup_minhash invariant with the same guard)
    from lucene_solr_spark.ops.pipeline import pipeline_select

    results.append(audit(
        "pipeline_select_no_cartesian_no_python",
        pipeline_select(spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BatchEvalPython"],
    ))

    # 25. early-termination sorted top-k: the pass-1 k-th value is PUSHED
    # into pass 2's parquet scan (row groups above/below the bound skip
    # without decode on a sort-clustered layout) and the final order is a
    # TakeOrdered, never a global sort
    from lucene_solr_spark.ops.streams import stream_export_pruned

    results.append(audit(
        "export_pruned_cutoff_pushdown",
        stream_export_pruned(spark, SF_DIR),
        must=[r"PushedFilters: \[.*GreaterThanOrEqual\(l_extendedprice",
              r"TakeOrderedAndProject"],
        must_not=[r"Exchange rangepartitioning"],
    ))

    # 26. bloom segment pruning (BloomFilteringPostingsFormat analog): a
    # term every segment's bloom rejects must fold the whole hits plan to
    # an empty relation — NO postings/norms parquet scan survives. (The
    # partial-prune case — seg partition filter on the scan — is asserted
    # by tests/test_bloom.py::test_partition_pruning_in_plan on a corpus
    # with a single-segment sentinel term; this corpus's own vocabulary is
    # common enough that every segment legitimately admits it.)
    from lucene_solr_spark.search.query import BooleanSpec, TermClause

    s = eng.searcher
    assert s.bloom_live_segs(["qqqneverindexedzz"]) == [], "bloom sidecar absent?"
    q26 = s.compile(BooleanSpec(should=[TermClause("qqqneverindexedzz")]), k=10)
    results.append(audit(
        "bloom_absent_term_scan_elimination",
        s.hits(q26),
        must=[r"Scan ExistingRDD|LocalTableScan"],
        must_not=[r"Scan parquet", r"FileScan"],
    ))

    # 27. commit-point (time-travel) search: the same one-stage shape; the
    # scoring stage is dealt only the commit's segments, so later segments'
    # files are never opened (tests/test_segment_task.py asserts the list).
    from lucene_solr_spark.engine import ASOF

    asof = get_engine(spark, SF_DIR, "simple", ASOF)
    assert asof.searcher._commit is not None
    results.append(audit_ranked(
        "asof_commit_seg_partition_pruned",
        lambda: asof.topk("or3", ["merge", "batch", "stream"], k=10),
        must=[SEG_TASK],
        must_not=[SEG_TASK_FED],
    ))

    # 28. multi-field qf: BOTH field legs run their own scoring stage (two
    # independent indexes, each term-pruned in its tasks), the cross-field
    # combine is a doc_key join — never a CartesianProduct — and the final
    # order is the k-row coalesce, not a global sort exchange.
    from lucene_solr_spark.engine import fielded_dismax_topk

    results.append(audit(
        "fielded_qf_both_legs_pushed",
        fielded_dismax_topk(spark, SF_DIR, "or3", ["fast", "merge", "table"], k=10),
        must=[rf"(?s){SEG_TASK}.*{SEG_TASK}", TOPK],
        must_not=[r"CartesianProduct", r"Exchange rangepartitioning", SEG_TASK_FED],
    ))

    # 29. ExactStatsCache alias: every shard leg runs its own scoring stage
    # (the injected global weights change scoring, not the stage shape), the
    # merge is each leg's driver-merged k rows + union + one TakeOrdered —
    # no CartesianProduct, no doc-level range-partition exchange.
    from lucene_solr_spark.engine import exactstats_topk

    results.append(audit_ranked(
        "exactstats_all_legs_pushed",
        lambda: exactstats_topk(spark, SF_DIR, "or3", ["vector", "stream", "filter"], k=10),
        must=[rf"(?s){SEG_TASK}.*{SEG_TASK}"],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
        page_must=[rf"(?s){PAGE}.*{PAGE}", TOPK],
        page_must_not=[r"CartesianProduct", r"Exchange rangepartitioning", PAGE_SCAN],
    ))

    # 30. FieldMaskingSpanQuery: each segment's task reads BOTH fields'
    # term-pruned postings, so the cross-field composition is the single
    # scoring stage — no exchange beyond the single-field span query's.
    from lucene_solr_spark.engine import field_masking_span_topk

    results.append(audit(
        "fieldmask_both_fields_pushed",
        field_masking_span_topk(spark, SF_DIR, "table", "join", 6, k=10),
        must=[SEG_TASK, TOPK],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
    ))

    # 31. numeric docvalues boost: the generation-stacked DV resolution is
    # a keyed join against O(updated) rows — the update overlay never
    # triggers a CartesianProduct and the per-key latest-wins rank
    # partitions by doc_key (no unpartitioned window over doc rows).
    from lucene_solr_spark.engine import DV_UPDATED

    results.append(audit(
        "dv_boost_keyed_overlay_join",
        get_engine(spark, SF_DIR, "simple", DV_UPDATED).dv_boost_topk(
            "or3", ["vector", "stream", "filter"], k=10
        ),
        must=[SEG_TASK, TOPK],
        must_not=[r"CartesianProduct", r"Window \[.*\]$", SEG_TASK_FED],
    ))

    # 32. SPLITSHARD scatter-gather: every child leg keeps its own scoring
    # stage (the masks/stats refresh must not add a scan or shuffle to it),
    # the page merge is a TakeOrdered over the legs' n·k driver-merged rows
    # (no full-table sort), and no leg degenerates into a CartesianProduct.
    from lucene_solr_spark.engine import split_union_topk

    results.append(audit_ranked(
        "split_children_term_pruned_scans",
        lambda: split_union_topk(spark, SF_DIR, "or3", ["merge", "scan", "window"], k=10),
        must=[rf"(?s){SEG_TASK}.*{SEG_TASK}.*{SEG_TASK}"],
        must_not=[r"CartesianProduct", SEG_TASK_FED],
        page_must=[rf"(?s){PAGE}.*{PAGE}.*{PAGE}", TOPK],
        page_must_not=[r"CartesianProduct", PAGE_SCAN],
    ))

    n_fail = results.count(False)
    print(f"{len(results) - n_fail}/{len(results)} plan invariants hold")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
