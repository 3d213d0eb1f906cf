"""Package the engine for cluster submission: zip `lucene_solr_spark/` into
`dist/lucene_solr_spark.zip`, the artifact passed to
``spark-submit --py-files`` (the north-rule deployment shape).

The zip holds `lucene_solr_spark/` only. It leaves out the repository
root's `pyspark_graft_worker.py` on purpose: Spark's Python daemon imports
its worker module when it starts, before the py-files reach `sys.path`, so
a cluster session could not use the module from this zip (see
`lucene_solr_spark/session.py`).

Usage: python tools/make_pyfiles.py  →  prints the zip path.
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(out_dir: str | None = None) -> str:
    out_dir = out_dir or os.path.join(ROOT, "dist")
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "lucene_solr_spark.zip")
    pkg = os.path.join(ROOT, "lucene_solr_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return zip_path


if __name__ == "__main__":
    print(build_zip(sys.argv[1] if len(sys.argv) > 1 else None))
