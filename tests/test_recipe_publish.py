"""Recipe-built indexes materialize all-or-nothing (``engine._publish``):
steps run on a private copy, one marker is written last, and an atomic
rename publishes the tree. A crash between a step and the marker must not
leave a half-mutated index that the next open mutates again, and two
publishers racing over the same name must neither raise nor destroy a
complete tree."""

import os
import tempfile
import threading

import pandas as pd
import pytest

from lucene_solr_spark import engine
from lucene_solr_spark.engine import ASOF, PUBLISHED, _publish
from tools.check_entry import SF_DIR as CHECK_SF_DIR

SF_DIR = os.path.join(os.path.dirname(CHECK_SF_DIR), "sf0.001")


def _writer(payload: str):
    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write(payload)

    return build


def _read(dst: str) -> str:
    with open(os.path.join(dst, "data")) as f:
        return f.read()


def test_racing_publishers_replace_half_built_tree(tmp_path):
    dst = str(tmp_path / "idx")
    os.makedirs(dst)
    with open(os.path.join(dst, "partial"), "w") as f:
        f.write("left by a dead writer")
    names = [f"racer{i}" for i in range(8)]  # more publishers than cores
    all_built = threading.Barrier(len(names))
    errors, seen = [], []

    def racer(name: str) -> None:
        def build(tmp: str) -> None:
            _writer(name)(tmp)
            all_built.wait(timeout=30)  # publish only once every tree exists

        try:
            seen.append(_read(_publish(dst, build)))
        except Exception as exc:  # noqa: BLE001 — collected for the assert
            errors.append(exc)

    threads = [threading.Thread(target=racer, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)

    assert errors == []
    assert os.path.exists(os.path.join(dst, PUBLISHED))
    assert not os.path.exists(os.path.join(dst, "partial"))
    # the first complete tree is the one every publisher ends up using
    assert _read(dst) in names and seen == [_read(dst)] * len(names)
    assert sorted(os.listdir(tmp_path)) == ["idx", "idx.lock"]  # no temp dirs


def test_concurrent_winner_tree_survives(tmp_path):
    dst = str(tmp_path / "idx")

    def build(tmp: str) -> None:
        _writer("loser")(tmp)
        # another publisher completes while this one is still building
        winner = threading.Thread(target=_publish, args=(dst, _writer("winner")))
        winner.start()
        winner.join(timeout=60)
        assert not winner.is_alive()

    assert _publish(dst, build) == dst
    assert _read(dst) == "winner"
    assert os.path.exists(os.path.join(dst, PUBLISHED))
    assert sorted(os.listdir(tmp_path)) == ["idx", "idx.lock"]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent")
def test_asof_crash_after_update_step_reopens_clean(spark, tmp_path, monkeypatch):
    """A crash after the as-of recipe's update step but before publish
    must not leave a tree whose reopen captures a second commit point
    AFTER the update (and then answers with the post-update page)."""
    import __spark_entry__ as entry
    from lucene_solr_spark.index.commits import list_commits

    run = entry.queries()["ft_asof_topk"]

    def private_cache(name: str) -> None:
        monkeypatch.setattr(engine, "_ENGINES", {})
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / name))
        os.makedirs(tempfile.tempdir)

    private_cache("clean")
    clean = run(spark, SF_DIR).toPandas()

    private_cache("crash")
    update = engine._STEPS["update"]

    def update_then_crash(spark, sf_dir, index_dir):
        update(spark, sf_dir, index_dir)
        raise RuntimeError("injected crash after the update step")

    with monkeypatch.context() as m:
        m.setitem(engine._STEPS, "update", update_then_crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run(spark, SF_DIR)

    reopened = run(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(reopened, clean)
    asof_dir = engine.get_engine(spark, SF_DIR, "simple", ASOF).index_dir
    assert list_commits(asof_dir) == [1]
