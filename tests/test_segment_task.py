"""One scoring stage per search (``search/segtask.py``): each segment's
scoring task reads only the query's terms of its own segment, only
bloom-admitted (and, at a commit point, only the commit's) segments get a
task, and a keyed top-k runs at most two Spark jobs with no shuffle below
the scoring operator."""

import os
import time

import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.search import searcher as searcher_mod
from lucene_solr_spark.search import segtask
from lucene_solr_spark.search.searcher import IndexSearcher

SENTINEL = "zzzsegtaskmarker"
OR3 = ["merge", "batch", "stream"]


@pytest.fixture(scope="module")
def sentinel_index(spark, tmp_path_factory):
    """4 segments; SENTINEL occurs in one conversation, so one segment."""
    from lucene_solr_spark.datagen import generate_transcripts
    from lucene_solr_spark.index.build import build_index

    pdf = generate_transcripts(120).copy()
    first = pdf.index[pdf.conv_id == pdf.conv_id.iloc[0]][0]
    pdf.loc[first, "text"] = pdf.loc[first, "text"] + f" {SENTINEL}"
    index_dir = str(tmp_path_factory.mktemp("segtask") / "idx")
    build_index(spark, spark.createDataFrame(pdf), index_dir, n_segments=4)
    return index_dir


def _job_counts(sc, gid):
    """(jobs, stages, tasks) launched under job group ``gid`` — read from
    the status tracker once the group's job list stops changing."""
    st = sc.statusTracker()
    prev, stable = None, 0
    for _ in range(100):
        jobs = sorted(st.getJobIdsForGroup(gid))
        infos = [st.getJobInfo(j) for j in jobs]
        done = all(i is not None and i.status != "RUNNING" for i in infos)
        stable = stable + 1 if (jobs == prev and done) else 0
        if stable >= 3:
            break
        prev = jobs
        time.sleep(0.05)
    stages = sorted({s for i in infos for s in i.stageIds})
    tasks = sum(st.getStageInfo(s).numTasks for s in stages)
    return len(jobs), len(stages), tasks


def _group_counts(sc, gid, run):
    """``_job_counts`` of what ``run()`` launches under job group ``gid``."""
    sc.setJobGroup(gid, gid)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return _job_counts(sc, gid)


def _dealt(monkeypatch, s, run):
    """Run ``run()`` with the searcher's segment_scan recorded: returns the
    (segments, per-segment score fn) of every scoring stage it built."""
    seen = []
    real = searcher_mod.segment_scan

    def recording(spark, segs, score, schema):
        seen.append((list(segs), score))
        return real(spark, segs, score, schema)

    monkeypatch.setattr(searcher_mod, "segment_scan", recording)
    run()
    return seen


def test_keyed_search_runs_one_scoring_stage(spark, sentinel_index):
    s = IndexSearcher(spark, sentinel_index)
    spec = s.parse("or3", OR3)
    want = s.search(spec, k=10, with_keys=True).collect()  # warm searcher caches
    sc = spark.sparkContext
    sc.setJobGroup("segtask-or3", "keyed or3 top-k")
    try:
        got = s.search(spec, k=10, with_keys=True).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == want and len(got) == 10
    jobs, stages, tasks = _job_counts(sc, "segtask-or3")
    assert jobs <= 2, jobs    # term_stats lookup + the scoring stage's collect
    assert stages <= 3, stages
    assert tasks <= min(len(s.layout), sc.defaultParallelism) + 2, tasks


def test_second_searcher_finds_no_shuffle_stage(spark, sentinel_index):
    """A freshly opened searcher's keyed top-k: the adaptive final plan has
    no shuffle query stage and no Exchange — the scoring operator sits
    directly on its Range, and the top-k merge is the TakeOrdered."""
    s = IndexSearcher(spark, sentinel_index)
    df = s.search(s.parse("or3", OR3), k=10, with_keys=True)
    assert len(df.collect()) == 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "MapInArrow" in plan and "Range" in plan
    assert "ShuffleQueryStage" not in plan and "Exchange" not in plan


def test_tasks_read_query_terms_of_admitted_segments(spark, sentinel_index, monkeypatch):
    """The term pruning a plan no longer shows: per segment, the task reads
    exactly the query's terms present in that segment, and only
    bloom-admitted segments are dealt to tasks."""
    s = IndexSearcher(spark, sentinel_index)
    sentinel = s.analyzer.analyze(SENTINEL)[0][0]
    all_segs = list(s.layout)
    reads = []
    real_read = segtask.read_postings

    def spy(src, seg):
        got = real_read(src, seg)
        reads.append((seg, set(src.terms), set(got)))
        return got

    for qtype, terms, admitted in [
        ("term", [SENTINEL], s.bloom_live_segs([sentinel])),
        ("or3", OR3, all_segs),
    ]:
        q = s.compile(s.parse(qtype, terms), k=10)
        seen = _dealt(monkeypatch, s, lambda: s.hits(q).collect())
        assert len(seen) == 1
        segs, score = seen[0]
        assert segs == admitted and len(admitted) >= 1
        if qtype == "term":
            assert len(segs) < len(all_segs)
        # replay the scoring tasks in this process to see what they read
        reads.clear()
        monkeypatch.setattr(segtask, "read_postings", spy)
        for seg in segs:
            score(seg)
        monkeypatch.setattr(segtask, "read_postings", real_read)
        assert [r[0] for r in reads] == segs
        for seg, asked, got in reads:
            stored = set(pq.read_table(
                os.path.join(sentinel_index, "postings", f"seg={seg}"), columns=["term"]
            )["term"].to_pylist())
            assert asked == set(q.scoring_terms)
            assert got == asked & stored


def test_keyed_tasks_read_only_survivor_keys(spark, sentinel_index, monkeypatch):
    """Fetch-fields-late inside the task: each segment's docs read asks for
    the key columns and doc_local only, filtered to its ≤k survivors."""
    s = IndexSearcher(spark, sentinel_index)
    q = s.compile(s.parse("or3", OR3), k=5)
    (segs, score), = _dealt(monkeypatch, s, lambda: s.search(q, with_keys=True).collect())
    docs_reads = []
    real = pq.read_table

    def spy(path, *a, **kw):
        if os.sep + "docs" + os.sep in path:
            docs_reads.append((kw["columns"], kw["filters"]))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "read_table", spy)
    for seg in segs:
        score(seg)
    assert len(docs_reads) == len(segs)
    for cols, filters in docs_reads:
        assert cols == [*s.meta.key_cols, "doc_local"]
        ((col, op, ids),) = filters
        assert col == "doc_local" and op == "in" and 0 < len(ids) <= 5


def test_commit_point_tasks_visit_only_commit_segments(spark, sentinel_index, tmp_path, monkeypatch):
    """At a commit point the scoring stage is dealt only the commit's
    segments: later appended segments are never opened."""
    import shutil

    from lucene_solr_spark.datagen import generate_transcripts
    from lucene_solr_spark.index.build import append_batch
    from lucene_solr_spark.index.commits import commit_point, load_commit

    idx = str(tmp_path / "idx")
    shutil.copytree(sentinel_index, idx)
    gen = commit_point(idx)
    extra = generate_transcripts(10).assign(conv_id=lambda d: "new-" + d.conv_id)
    append_batch(spark, spark.createDataFrame(extra), idx, n_segments=2)
    live, at = IndexSearcher(spark, idx), IndexSearcher(spark, idx, commit=gen)
    commit_segs = sorted(load_commit(idx, gen).segs)
    assert list(live.layout) != commit_segs
    q = at.compile(at.parse("or3", OR3), k=10)
    seen = _dealt(monkeypatch, at, lambda: at.search(q, with_keys=True).collect())
    assert [segs for segs, _ in seen] == [commit_segs]


def test_deletes_add_no_jobs_to_open_and_first_search(spark, sentinel_index, tmp_path):
    """Deletes are read inside the tasks that work on their segment: opening
    a searcher plus its first keyed search launches as many Spark jobs on
    an index with deletes as before the delete, and refreshing the stats
    with deletes launches no more jobs than without them (a driver-collected
    delete map and broadcast removal pass took 13)."""
    import shutil

    from lucene_solr_spark.index.updates import delete_docs, refresh_stats

    idx = str(tmp_path / "idx")
    shutil.copytree(sentinel_index, idx)
    sc = spark.sparkContext

    def jobs(gid, run):
        return _group_counts(sc, gid, run)[0]

    def open_and_search():
        s = IndexSearcher(spark, idx)
        assert len(s.search(s.parse("or3", OR3), k=10, with_keys=True).collect()) == 10

    clean = jobs("tomb-open-clean", open_and_search)
    refresh_clean = jobs("tomb-refresh-clean", lambda: refresh_stats(spark, idx))
    victims = (
        spark.read.parquet(os.path.join(idx, "docs"))
        .filter("turn_idx % 2 = 0").select("conv_id", "turn_idx")
    )
    assert delete_docs(spark, idx, victims) > 0
    assert IndexSearcher(spark, idx)._tomb_files
    assert jobs("tomb-open-deleted", open_and_search) == clean
    refresh = jobs("tomb-refresh-deleted", lambda: refresh_stats(spark, idx))
    assert refresh < 13 and refresh <= refresh_clean, (refresh, refresh_clean)


# (jobs, stages, tasks) under local[4] with Spark's own worker module: the
# worker module get_spark sets changes per-task setup, not the work Spark
# launches, so each operation must launch exactly these
STOCK_WORKER_COUNTS = {
    "open-or3": (6, 7, 10),
    "search-many": (5, 9, 24),
    "build-4seg": (10, 14, 41),
}


def test_job_counts_match_the_stock_worker(spark, sentinel_index, tmp_path):
    from lucene_solr_spark.datagen import generate_transcripts
    from lucene_solr_spark.index.build import build_index

    sc = spark.sparkContext
    def open_and_search():
        s = IndexSearcher(spark, sentinel_index)
        assert len(s.search(s.parse("or3", OR3), k=10, with_keys=True).collect()) == 10

    s = IndexSearcher(spark, sentinel_index)
    many = s.compile_many({
        "a": (s.parse("or3", OR3), 5), "b": (s.parse("and2", OR3[:2]), 5),
    })
    pdf = generate_transcripts(120)
    got = {
        "open-or3": _group_counts(sc, "wm-open-or3", open_and_search),
        "search-many": _group_counts(sc, "wm-search-many", lambda: s.search_many(many).collect()),
        "build-4seg": _group_counts(sc, "wm-build-4seg", lambda: build_index(
            spark, spark.createDataFrame(pdf), str(tmp_path / "idx"), n_segments=4,
        )),
    }
    assert got == STOCK_WORKER_COUNTS
