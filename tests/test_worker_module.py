"""The Python worker module ``get_spark`` sets (``pyspark_graft_worker``):
a ``zipimporter`` keeps its archive's directory table across
``importlib.invalidate_caches()`` until the archive changes, the Python
workers of a session keep one ``pyspark.zip`` table across tasks, and
``get_spark`` leaves the option unset when the module is missing. The
workers talk to the JVM over Unix-domain sockets in the session's private
socket directory, which stays within Spark's length limit under a long
temp dir and is gone when the driver process exits."""

from __future__ import annotations

import importlib
import json
import os
import stat
import subprocess
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


def test_get_spark_uses_unix_sockets_in_a_private_short_dir():
    opts = session.session_builder("t", cpus=1)._options
    assert opts["spark.python.unix.domain.socket.enabled"] == "true"
    sock_dir = opts["spark.python.unix.domain.socket.dir"]
    assert len(sock_dir) <= session.SOCKET_DIR_MAX
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700


def test_python_tasks_run_on_the_session_socket_dir(spark):
    def _socket_env(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "enabled": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")],
            "sock_dir": [os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")],
        })

    row = spark.range(0, 1, numPartitions=1).mapInArrow(
        _socket_env, "enabled string, sock_dir string"
    ).collect()[0]
    # the JVM sets "True"; pyspark/daemon.py compares it lowercased
    assert row.enabled.lower() == "true"
    assert row.sock_dir == spark.conf.get("spark.python.unix.domain.socket.dir")


_LONG_TMPDIR_SESSION = """
import json, os
import pyarrow as pa
from lucene_solr_spark.session import get_spark

def plus_one(batches):
    for b in batches:
        yield pa.RecordBatch.from_pydict({"id": [v + 1 for v in b.column(0).to_pylist()]})

spark = get_spark("long-tmpdir", cpus=1)
ids = [r.id for r in spark.range(0, 3, numPartitions=1).mapInArrow(plus_one, "id long").collect()]
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print(json.dumps({"ids": ids, "sock_dir": sock_dir, "exists": os.path.isdir(sock_dir)}))
spark.stop()
"""


def test_session_starts_under_a_long_tmpdir_and_removes_its_socket_dir(tmp_path):
    """With ``TMPDIR`` and ``java.io.tmpdir`` both 100+ characters long, a
    socket directory left to either would exceed the AF_UNIX path limit and
    the SparkContext would not start."""
    long_tmp = tmp_path / ("t" * 100)
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    env = {
        **os.environ,
        "TMPDIR": str(long_tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={long_tmp}",
        "SPARK_DRIVER_MEM": "1g",
        "PYTHONPATH": session.WORKER_DIR,
    }
    run = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR_SESSION], cwd=session.WORKER_DIR, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["ids"] == [1, 2, 3]
    assert out["exists"] and len(out["sock_dir"]) <= session.SOCKET_DIR_MAX
    assert not os.path.exists(out["sock_dir"])
