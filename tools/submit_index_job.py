"""Cluster index-build job — the ``spark-submit --py-files`` entrypoint the
north rule names. Unlike ``lucene_solr_spark.session.get_spark`` (local-mode
factory for tests/bench), this script takes the session FROM spark-submit:
master, executor count/memory, and dynamic allocation come from the submit
command / spark-defaults, so the same script runs at N and 4N executors
unchanged.

    python tools/make_pyfiles.py
    spark-submit --py-files dist/lucene_solr_spark.zip \
        tools/submit_index_job.py \
        --input  /mnt/shared/transcripts/ \
        --index  /mnt/shared/index/v1/ \
        --analyzer lucene --segments 4096 [--presorted] [--resume]

Paths must be a shared filesystem visible to every executor (NFS / Lustre /
fuse-mounted object store): segment postings are written executor-side with
pyarrow, and the manifest markers are the resume checkpoints.

Prints one JSON line with build metrics (turns, segments, wall seconds,
turns/sec) — the per-run record behind BENCH/BASELINE.md's scaling table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcripts table path (parquet)")
    ap.add_argument("--index", required=True, help="output index directory")
    ap.add_argument(
        "--analyzer", default="lucene",
        choices=["lucene", "simple", "stop", "synonym", "shingle", "edgegram"],
    )
    ap.add_argument("--keyword-cols", default="",
                    help="comma-separated keyword (StringField) columns to "
                         "index as filterable posting lists")
    ap.add_argument("--segments", type=int, default=0,
                    help="segment count (0 = one per shuffle partition)")
    ap.add_argument("--key-cols", default="conv_id,turn_idx")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--presorted", action="store_true",
                    help="input files are globally key-sorted (Iceberg sort "
                         "order): take the shuffle-free build path")
    ap.add_argument("--resume", action="store_true",
                    help="resume from per-segment checkpoint manifest")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # No .master() here: spark-submit owns cluster topology. Only set the
    # engine-required session confs (Arrow for the vectorized analysis UDFs).
    # No spark.python.worker.module either: the daemon imports it before
    # the --py-files reach sys.path (lucene_solr_spark/session.py).
    spark = (
        SparkSession.builder.appName("lss-index-build")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from lucene_solr_spark.index.build import build_index, build_index_presorted

    key_cols = tuple(args.key_cols.split(","))
    keyword_cols = tuple(c for c in args.keyword_cols.split(",") if c)
    t0 = time.monotonic()
    if args.presorted:
        manifest = build_index_presorted(
            spark, args.input, args.index,
            key_cols=key_cols, text_col=args.text_col,
            analyzer=args.analyzer, positions=not args.no_positions,
            keyword_cols=keyword_cols,
        )
    else:
        src = spark.read.parquet(args.input)
        n_segments = args.segments or spark.sparkContext.defaultParallelism
        manifest = build_index(
            spark, src, args.index,
            key_cols=key_cols, text_col=args.text_col,
            analyzer=args.analyzer, positions=not args.no_positions,
            n_segments=n_segments, resume=args.resume,
            keyword_cols=keyword_cols,
        )
    rows = manifest.collect()
    secs = time.monotonic() - t0
    n_turns = sum(r.n_docs for r in rows)
    print(json.dumps({
        "n_turns": n_turns,
        "n_segments": len(rows),
        "build_secs": round(secs, 3),
        "build_turns_per_sec": round(n_turns / secs, 1) if secs else None,
        "resumed_segments": sum(1 for r in rows if getattr(r, "status", "") == "resumed"),
    }))


if __name__ == "__main__":
    sys.exit(main())
