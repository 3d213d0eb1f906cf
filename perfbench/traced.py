"""The traced run: times calls into each engine layer from the benchmark's
own code and reads Spark job, stage and task counts under job groups the
benchmark sets. Spans (name, start, end, parent, request id) stay in
memory and go into the run's artifact at the end.

Each metric names the layer it times; README.md maps it to the end-to-end
metric it should move and the workload where it should move it.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from inputs import marker, updated_rows
from lucene_solr_spark.analysis import LuceneChainAnalyzer
from lucene_solr_spark.index.build import append_batch
from lucene_solr_spark.index.codec import decode_postings, encode_posting_blocks
from lucene_solr_spark.index.updates import delete_docs, refresh_stats
from lucene_solr_spark.search.kernels import score_segment_exact, score_segment_wand
from lucene_solr_spark.search.searcher import IndexSearcher
from probes import JobCounter, Spans

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "analysis.analyze_s": "s",
    "analysis.tokens_per_s": "tokens/s",
    "index.codec.encode_s": "s",
    "index.codec.decode_s": "s",
    "index.codec.bytes_per_posting": "B/posting",
    "index.build.terms_per_segment": "count",
    "index.build.invert_s_sum": "s",
    "index.build.invert_straggler_ratio": "ratio",
    "index.build.outside_invert_s": "s",
    "index.build.spark_jobs": "count",
    "index.build.spark_tasks": "count",
    "index.build.append_s": "s",
    "index.updates.update_visible_ms": "ms",
    "index.updates.delete_s": "s",
    "index.updates.refresh_s": "s",
    "index.updates.tombstones": "count",
    "index.updates.segments": "count",
    "index.bloom.segments_admitted_ratio": "ratio",
    "search.searcher.open_s": "s",
    "search.searcher.compile_s": "s",
    "search.searcher.hits_s": "s",
    "search.searcher.topk_keys_s": "s",
    "search.searcher.jobs_per_query": "count",
    "search.searcher.stages_per_query": "count",
    "search.searcher.tasks_per_query": "count",
    "search.searcher.search_many_s": "s",
    "search.kernels.wand_s": "s",
    "search.kernels.exact_s": "s",
    "search.kernels.postings_per_hit": "ratio",
    "trace.overhead_ms_per_query": "ms",
}
SELF_LAYERS = ("analysis", "index.codec", "index.build", "index.updates",
               "index.bloom", "search.searcher", "search.kernels")
PER_LAYER.update({f"{layer}.self_s": "s" for layer in SELF_LAYERS})

TRACED_QUERIES = 6
TRACED_UPDATES = 2


def _seg_files(index_dir: str, table: str) -> dict[int, str]:
    out = {}
    for path in glob.glob(os.path.join(index_dir, table, "seg=*", "*.parquet")):
        out[int(os.path.basename(os.path.dirname(path)).split("=")[1])] = path
    return out


def _norms(index_dir: str) -> dict[int, np.ndarray]:
    return {seg: np.frombuffer(pq.read_table(p)["norms"][0].as_py(), dtype=np.uint8)
            for seg, p in _seg_files(index_dir, "seg_norms").items()}


def _postings(path: str, terms: list[str] | None = None) -> dict[str, list[dict]]:
    filters = [("term", "in", terms)] if terms is not None else None
    t = pq.read_table(path, columns=["term", "blocks"], filters=filters)
    return dict(zip(t["term"].to_pylist(), t["blocks"].to_pylist()))


def _same_blocks(a: list[dict], b: list[dict]) -> bool:
    return len(a) == len(b) and all(x == {k: y[k] for k in x} for x, y in zip(a, b))


def _check_update(bench, cycle: int, rows) -> bool:
    """The cycle's marker term returns exactly the batch's keys."""
    batch = bench.inputs.corpus.iloc[bench.inputs.batches[cycle]]
    want = set(zip(batch["conv_id"], batch["turn_idx"].astype(int)))
    got = [(r["conv_id"], int(r["turn_idx"])) for r in rows]
    return bench.gate.record("update", len(got) == len(want) and set(got) == want,
                             f"cycle {cycle}: {len(got)} rows")


def _marker_query(bench, searcher, cycle: int):
    spec = searcher.parse("term", [marker(bench.inputs.seed, cycle)])
    k = len(bench.inputs.batches[cycle]) + 1
    return searcher.search(spec, k=k, with_keys=True).collect()


def _untraced_query(searcher, spec, k: int) -> float:
    t0 = time.perf_counter()
    searcher.search(spec, k=k, with_keys=True).collect()
    return time.perf_counter() - t0


def traced_run(bench) -> tuple[dict, Spans]:
    """Time each layer once on the bench's inputs → (metrics, spans)."""
    spark, inputs, gate = bench.spark, bench.inputs, bench.gate
    spans, jobs = Spans(), JobCounter(spark.sparkContext)
    m: dict[str, float] = {k: bench.context["setup"][k]
                           for k in ("session.start_s", "session.worker_warm_s")}
    span = spans.span

    # -- build: one warm build under a job group --------------------------
    old, bench.index_dir = bench.index_dir, bench.new_index_dir()
    with jobs.group("build") as gid:
        t0 = time.perf_counter()
        with span("index.build.build_index_presorted"):
            manifest = bench.build(bench.index_dir)
        wall = time.perf_counter() - t0
    manifest = manifest.toPandas()
    bench.check_build(manifest, bench.hashes)
    shutil.rmtree(old, ignore_errors=True)
    invert = manifest["build_secs"]
    m["index.build.invert_s_sum"] = float(invert.sum())
    m["index.build.invert_straggler_ratio"] = float(invert.max() / invert.median())
    m["index.build.outside_invert_s"] = wall - float(invert.max())
    m["index.build.terms_per_segment"] = float(manifest["n_terms"].median())
    m["index.build.spark_jobs"], _, m["index.build.spark_tasks"] = jobs.counts(gid)
    idx = bench.index_dir

    # -- analysis: driver-side analyze_batch on one segment's text ---------
    text = pq.read_table(sorted(glob.glob(os.path.join(bench.corpus_dir, "*.parquet")))[0],
                         columns=["text"])["text"]
    for _ in range(3):
        # a fresh analyzer each time, as each build task has: its stem memo
        # starts empty
        analyzer = LuceneChainAnalyzer()
        with span("analysis.analyze_batch"):
            frame = analyzer.analyze_batch(text)
    m["analysis.analyze_s"] = statistics.median(spans.durations("analysis.analyze_batch"))
    m["analysis.tokens_per_s"] = len(frame) / m["analysis.analyze_s"]

    # -- codec: re-encode segment 0's decoded postings; bytes must match ---
    norms = _norms(idx)
    seg0 = _postings(_seg_files(idx, "postings")[0])
    decoded = {t: decode_postings(b, with_positions=True) for t, b in seg0.items()}
    with span("index.codec.encode_posting_blocks"):
        reencoded = {t: encode_posting_blocks(d, f, norms[0][d].astype(np.int64), p)
                     for t, (d, f, p) in decoded.items()}
    gate.record("codec_roundtrip", all(_same_blocks(reencoded[t], seg0[t]) for t in seg0))
    m["index.codec.encode_s"] = spans.durations("index.codec.encode_posting_blocks")[0]
    n_postings = int(manifest["n_postings"].sum())
    m["index.codec.bytes_per_posting"] = (
        sum(os.path.getsize(p) for p in glob.glob(os.path.join(idx, "postings", "*", "*")))
        / n_postings)

    # -- single queries, each traced and untraced --------------------------
    golden = bench.gold
    with span("search.searcher.IndexSearcher"):
        searcher = IndexSearcher(spark, idx)
    for qid in inputs.warm:
        spec, k = bench.parse(searcher, qid)
        bench.check_query(qid, searcher.search(spec, k=k, with_keys=True).collect(), golden[qid])
    n_segs = len(_seg_files(idx, "seg_norms"))
    per_q = {"jobs": [], "stages": [], "tasks": [], "topk": [], "admitted": [], "request": [],
             "untraced": []}
    for i, qid in enumerate(inputs.sequence[:TRACED_QUERIES]):
        spec, k = bench.parse(searcher, qid)
        # each query also runs untraced, first on even and last on odd
        # queries, so warm caches favour neither side of the overhead
        if i % 2 == 0:
            per_q["untraced"].append(_untraced_query(searcher, spec, k))
        with jobs.group(f"query-{qid}") as gid:
            t0 = time.perf_counter()
            with span("request.query", request=f"q{i}"):
                with span("search.searcher.compile"):
                    q = searcher.compile(spec, k)
                with span("search.searcher.search"):
                    rows = searcher.search(q, with_keys=True).collect()
            per_q["request"].append(time.perf_counter() - t0)
        if i % 2 == 1:
            per_q["untraced"].append(_untraced_query(searcher, spec, k))
        bench.check_query(qid, rows, golden[qid])
        for key, v in zip(("jobs", "stages", "tasks"), jobs.counts(gid)):
            per_q[key].append(v)
        with span("search.searcher.hits", request=f"q{i}"):
            searcher.hits(q).collect()
        with span("index.bloom.bloom_live_segs", request=f"q{i}"):
            live = searcher.bloom_live_segs(list(q.scoring_terms))
        per_q["admitted"].append(1.0 if live is None else len(live) / n_segs)
        per_q["topk"].append(spans.durations("search.searcher.search")[-1]
                             - spans.durations("search.searcher.hits")[-1])
    m["search.searcher.compile_s"] = statistics.median(spans.durations("search.searcher.compile"))
    m["search.searcher.hits_s"] = statistics.median(spans.durations("search.searcher.hits"))
    m["search.searcher.topk_keys_s"] = statistics.median(per_q["topk"])
    for key in ("jobs", "stages", "tasks"):
        m[f"search.searcher.{key}_per_query"] = statistics.median(per_q[key])
    m["index.bloom.segments_admitted_ratio"] = statistics.mean(per_q["admitted"])
    m["trace.overhead_ms_per_query"] = 1e3 * statistics.median(
        [t - u for t, u in zip(per_q["request"], per_q["untraced"])])

    # -- query set: compile_many + search_many -----------------------------
    with span("search.searcher.search_many"):
        compiled = bench.compile_qset(searcher)
        rows = searcher.search_many(compiled, mode="wand").collect()
    bench.check_qset(rows, golden)
    m["search.searcher.search_many_s"] = spans.durations("search.searcher.search_many")[0]

    # -- kernels: driver-side scoring over every segment's postings --------
    terms = sorted({t for q in compiled.values() for t in (*q.scoring_terms, *q.must_not_terms)})
    postings, hits = 0, 0
    kernels_ok = True
    for seg, path in sorted(_seg_files(idx, "postings").items()):
        blocks = _postings(path, terms)
        with span("index.codec.decode_postings"):
            for b in blocks.values():
                decode_postings(b, with_positions=True)
        for q in compiled.values():
            if not q.clauses:
                continue
            with span("search.kernels.score_segment_exact"):
                exact = score_segment_exact(blocks, norms[seg], 0, q)
            if q.needs_exact:
                continue
            with span("search.kernels.score_segment_wand"):
                wand = score_segment_wand(blocks, norms[seg], 0, q)
            kernels_ok &= (np.array_equal(wand[0], exact[0])
                           and np.array_equal(wand[1], exact[1]))
            postings += sum(b["n"] for t in q.scoring_terms for b in blocks.get(t, []))
            hits += len(wand[0])
    gate.record("wand_equals_exact", kernels_ok)
    m["index.codec.decode_s"] = sum(spans.durations("index.codec.decode_postings"))
    m["search.kernels.wand_s"] = sum(spans.durations("search.kernels.score_segment_wand"))
    m["search.kernels.exact_s"] = sum(spans.durations("search.kernels.score_segment_exact"))
    m["search.kernels.postings_per_hit"] = postings / max(hits, 1)

    # -- updates: update_docs's two steps, reopen, marker read; the request
    # span is the time from the update call until a reopened searcher sees it
    for cycle in range(TRACED_UPDATES):
        df = spark.createDataFrame(updated_rows(inputs, cycle))
        with span("request.update", request=f"u{cycle}"):
            with span("index.updates.delete_docs"):
                delete_docs(spark, idx, df, refresh=False)
            with span("index.build.append_batch"):
                append_batch(spark, df, idx)
            with span("search.searcher.IndexSearcher"):
                searcher = IndexSearcher(spark, idx)
            with span("search.searcher.search"):
                rows = _marker_query(bench, searcher, cycle)
        _check_update(bench, cycle, rows)
        with span("index.updates.refresh_stats", request=f"u{cycle}"):
            refresh_stats(spark, idx)
    m["index.updates.update_visible_ms"] = 1e3 * statistics.median(
        spans.durations("request.update"))
    m["index.updates.delete_s"] = statistics.median(spans.durations("index.updates.delete_docs"))
    m["index.build.append_s"] = statistics.median(spans.durations("index.build.append_batch"))
    m["index.updates.refresh_s"] = statistics.median(spans.durations("index.updates.refresh_stats"))
    m["search.searcher.open_s"] = statistics.median(
        spans.durations("search.searcher.IndexSearcher"))
    m["index.updates.tombstones"] = sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(idx, "tombstones", "**", "*.parquet"), recursive=True))
    m["index.updates.segments"] = len(_seg_files(idx, "seg_norms"))

    self_s = spans.self_times()
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    bench.samples.update(untraced_query_s=per_q["untraced"], traced_query_s=per_q["request"])
    return m, spans
