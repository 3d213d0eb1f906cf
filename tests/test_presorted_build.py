"""The shuffle-free presorted build path must produce an index equivalent to
the sorting build over the same corpus (identical docIDs, postings stats, and
query results), and must reject unsorted layouts."""

import os
import time

import numpy as np
import pytest

from lucene_solr_spark.datagen import generate_queries, generate_transcripts
from lucene_solr_spark.index.build import build_index, build_index_presorted
from lucene_solr_spark.search.searcher import IndexSearcher
from test_segment_task import _job_counts


@pytest.fixture(scope="module")
def sorted_files(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_transcripts(150).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    d = tmp_path_factory.mktemp("sorted_corpus")
    step = (len(pdf) + 5) // 6
    for i in range(0, len(pdf), step):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i:i + step], preserve_index=False),
            str(d / f"part-{i // step:03d}.parquet"),
        )
    return str(d), pdf


def _run(spark, idx):
    s = IndexSearcher(spark, idx)
    qs = generate_queries()[:15]
    compiled = s.compile_many({
        f"q{q['query_id']:02d}": (s.parse(q["qtype"], q["terms"], q["min_should"]), q["k"])
        for q in qs
    })
    return s.search_many(compiled, mode="wand").toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)


def test_presorted_equals_sorting_build(spark, sorted_files, tmp_path):
    src_dir, pdf = sorted_files
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index_presorted(spark, src_dir, a_dir, files_per_segment=2)
    build_index(spark, spark.createDataFrame(pdf), b_dir, n_segments=3)

    a, b = _run(spark, a_dir), _run(spark, b_dir)
    assert len(a) == len(b)
    np.testing.assert_array_equal(a.doc_id.to_numpy(), b.doc_id.to_numpy())
    np.testing.assert_array_equal(
        a.score.to_numpy().astype(np.float32), b.score.to_numpy().astype(np.float32)
    )
    # global stats and both term dictionaries identical, row for row
    for tbl in ("stats", "term_stats", "term_stats_rev"):
        sa, sb = (_rows(spark, os.path.join(d, tbl)) for d in (a_dir, b_dir))
        assert len(sa) and sa.equals(sb), tbl


def _rows(spark, path):
    df = spark.read.parquet(path).toPandas()
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_warm_presorted_build_runs_one_dealt_invert_stage(spark, sorted_files, tmp_path):
    """The invert is one stage of min(segments, defaultParallelism) dealt
    tasks, and the build runs no schema-inference or sampling jobs."""
    src_dir, _ = sorted_files
    build_index_presorted(spark, src_dir, str(tmp_path / "warm"))
    sc = spark.sparkContext
    sc.setJobGroup("presorted-build", "warm presorted build")
    try:
        build_index_presorted(spark, src_dir, str(tmp_path / "idx"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs, _, _ = _job_counts(sc, "presorted-build")
    assert jobs <= 8, jobs
    st = sc.statusTracker()
    # the first job of the build is the invert: one stage, one task per core
    (invert_stage,) = st.getJobInfo(min(st.getJobIdsForGroup("presorted-build"))).stageIds
    n_segs = len(os.listdir(src_dir))
    assert st.getStageInfo(invert_stage).numTasks == min(n_segs, sc.defaultParallelism)


def test_dealt_build_resumes_after_a_failed_task(spark, sorted_files, tmp_path):
    """A task that fails on its second segment after committing its first:
    the rebuild into the same dir resumes every committed segment and ends
    with the segments and global stats of a clean build."""
    src_dir, _ = sorted_files
    n_segs = len(os.listdir(src_dir))
    n_tasks = min(n_segs, spark.sparkContext.defaultParallelism)
    assert n_tasks < n_segs, "no task is dealt a second segment"
    idx = tmp_path / "idx"
    # task 0 is dealt segments 0, n_tasks, …; a directory where segment
    # n_tasks writes its first file blocks that write (root ignores chmod)
    blocker = idx / "docs" / f"seg={n_tasks}" / "part-0.parquet"
    blocker.mkdir(parents=True)
    with pytest.raises(Exception, match="part-0.parquet"):
        build_index_presorted(spark, src_dir, str(idx))
    markers = idx / "manifest"
    assert (markers / "seg=0.parquet").exists()
    assert not (markers / f"seg={n_tasks}.parquet").exists()

    blocker.rmdir()
    # a task killed with the failed job can still finish the segment its
    # Python worker was inverting: wait until the marker set settles
    committed, stable = None, 0
    for _ in range(40):
        now = {int(f.name[4:-8]) for f in markers.glob("seg=*.parquet")}
        stable = stable + 1 if now == committed else 0
        if stable == 4:
            break
        committed = now
        time.sleep(0.25)
    resumed = build_index_presorted(spark, src_dir, str(idx)).toPandas()
    clean = build_index_presorted(spark, src_dir, str(tmp_path / "clean")).toPandas()
    status = dict(zip(resumed.seg, resumed.status))
    assert sorted(status) == list(range(n_segs))
    assert {s for s, v in status.items() if v == "resumed"} >= committed
    assert status[n_tasks] == "built" and set(status.values()) == {"resumed", "built"}
    assert set(resumed.content_hash) == set(clean.content_hash)
    for tbl in ("term_stats", "stats"):
        assert _rows(spark, str(idx / tbl)).equals(
            _rows(spark, str(tmp_path / "clean" / tbl))
        ), tbl


def test_presorted_rejects_unsorted(spark, sorted_files, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir, pdf = sorted_files
    bad = tmp_path / "bad"
    bad.mkdir()
    # write files in REVERSED key order → overlap check must fire
    step = (len(pdf) + 2) // 3
    chunks = [pdf.iloc[i:i + step] for i in range(0, len(pdf), step)]
    for j, c in enumerate(reversed(chunks)):
        pq.write_table(pa.Table.from_pandas(c, preserve_index=False), str(bad / f"part-{j}.parquet"))
    with pytest.raises(ValueError, match="not globally key-sorted"):
        build_index_presorted(spark, str(bad), str(tmp_path / "idx"))
