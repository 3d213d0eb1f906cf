"""Python worker for the engine's Spark sessions: ``pyspark.worker.main``
with a ``zipimporter`` that re-reads an archive's directory only when the
archive changed.

Every task's worker setup (``pyspark.worker_util.setup_spark_files``) ends
in ``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` on ``sys.path_importer_cache`` re-read its archive's whole
central directory, so each task re-parses ``pyspark.zip`` (1,328 entries)
and the py4j source zip once per importer: tens of milliseconds per task
for archives that never change while the worker lives.

Here a ``zipimporter`` keeps its directory table when the archive's
``(st_mtime_ns, st_size)`` equals the stamp taken before the table was
last read; otherwise it re-reads exactly as before. The stamp is taken
before the read, so an archive rewritten during a read shows a new stamp
at the next invalidation. Paths new to ``sys.path``, archives that changed
and every finder that is not a ``zipimporter`` are invalidated as before.

The name starts with ``pyspark`` because ``pyspark.daemon`` imports a
worker module (``spark.python.worker.module``) only under that prefix;
``lucene_solr_spark.session.get_spark`` sets the option when the workers
can import this file.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (stamp before the read, the directory table that read built)
_read: dict[str, tuple[tuple[int, int], dict]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    seen = _read.get(self.archive)
    if seen is not None and seen[0] == stamp:
        # every importer of one archive shares the table of its last read
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None:
        _read.pop(self.archive, None)
    else:
        _read[self.archive] = (stamp, files)


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    # spark.python.use.daemon=false runs the worker module as a script
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (pyspark.daemon's entry)
