"""The Python worker module ``get_spark`` sets (``pyspark_graft_worker``):
a ``zipimporter`` keeps its archive's directory table across
``importlib.invalidate_caches()`` until the archive changes, the Python
workers of a session keep one ``pyspark.zip`` table across tasks, and
``get_spark`` leaves the option unset when the module is missing."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from lucene_solr_spark import session


@pytest.fixture
def worker(monkeypatch):
    """The worker module with its ``zipimporter`` patch in place for one
    test, and the interpreter's own ``invalidate_caches`` back afterwards."""
    import pyspark_graft_worker as w

    # importing the module patched the class; undo that here so the test's
    # own patch is the one monkeypatch reverts
    zipimport.zipimporter.invalidate_caches = w._reread
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", w._invalidate_if_changed
    )
    return w


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_keeps_its_directory_table(worker, tmp_path, monkeypatch):
    archive = str(tmp_path / "keep.zip")
    _write_zip(archive, {"wm_keep_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "wm_keep_a", raising=False)
    assert importlib.import_module("wm_keep_a").X == 1
    importlib.invalidate_caches()  # the first pass reads and stamps
    table = zipimport._zip_directory_cache[archive]
    for _ in range(3):
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is table
        assert sys.path_importer_cache[archive]._files is table


def test_rewritten_archive_is_read_again(worker, tmp_path, monkeypatch):
    archive = str(tmp_path / "grow.zip")
    _write_zip(archive, {"wm_grow_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("wm_grow_a", "wm_grow_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wm_grow_a").X == 1
    importlib.invalidate_caches()
    table = zipimport._zip_directory_cache[archive]
    # rewrite in place with a new member: the size (and mtime) change
    _write_zip(archive, {"wm_grow_a.py": "X = 1\n", "wm_grow_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not table
    assert importlib.import_module("wm_grow_b").Y == 2


def test_get_spark_sets_the_worker_module_where_workers_find_it():
    opts = session.session_builder("t", cpus=1)._options
    assert opts["spark.python.worker.module"] == session.WORKER_MODULE
    path = opts["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(path, session.WORKER_MODULE + ".py"))


def test_get_spark_leaves_the_option_unset_without_the_module(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "WORKER_DIR", str(tmp_path))
    opts = session.session_builder("t", cpus=1)._options
    assert "spark.python.worker.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts
    assert opts["spark.master"] == "local[1]"


def test_worker_keeps_one_pyspark_zip_table_across_tasks(spark):
    # nested, so it pickles by value (the workers cannot import tests/)
    def _zip_table_reuse(batches):
        """One row per task: its worker PID, and whether the worker's previous
        task saw this very ``pyspark.zip`` directory table (None on a worker's
        first task)."""
        for _ in batches:
            pass
        archive = next(
            (p for p in zipimport._zip_directory_cache if p.endswith("pyspark.zip")), None
        )
        table = zipimport._zip_directory_cache.get(archive) if archive else None
        prev = getattr(sys, "_graft_test_zip_table", None)
        # keeping the table alive keeps its id from being reused by a new one
        sys._graft_test_zip_table = table
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "zipped": [table is not None],
            "same": [None if prev is None else prev is table],
        })

    schema = "pid long, zipped boolean, same boolean"
    rows = []
    for _ in range(8):
        df = spark.range(0, 1, numPartitions=1).mapInArrow(_zip_table_reuse, schema)
        rows += df.collect()
    if not any(r.zipped for r in rows):
        pytest.skip("the Python workers do not import pyspark from pyspark.zip")
    again = [r for r in rows if r.same is not None]
    assert again, "no two tasks ran on one worker PID"
    assert all(r.same for r in again), rows
