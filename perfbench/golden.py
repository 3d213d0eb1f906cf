"""Golden top-k results from ``search.oracle.BruteForceOracle`` — the
spec-exact, pruning-free pandas scorer — and the checks that compare the
engine's results against them.

The oracle is slow, so results are computed once per (workload, scale,
seed, inputs, engine source) and cached as JSON under the run's cache
directory, outside every timed region and outside ``setup_s``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np

import lucene_solr_spark
from lucene_solr_spark.analysis import LuceneChainAnalyzer
from lucene_solr_spark.search.oracle import BruteForceOracle
from lucene_solr_spark.search.query import parse_fixture_query

from inputs import KEY_COLS, Inputs


def _engine_digest() -> str:
    """Hash of the engine's sources: a changed scorer or analyzer must not
    be checked against results cached for the old one."""
    root = os.path.dirname(lucene_solr_spark.__file__)
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(path[len(root):].encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _inputs_digest(inputs: Inputs) -> str:
    """Hash of the corpus and the query pool: results cached for inputs
    an older benchmark generated from the same seed are not reused."""
    import pandas as pd

    h = hashlib.sha1(pd.util.hash_pandas_object(inputs.corpus, index=False).values.tobytes())
    h.update(json.dumps(inputs.queries, sort_keys=True).encode())
    return h.hexdigest()[:16]


def golden_results(inputs: Inputs, qids: list[str], cache_dir: str, scale: str) -> dict[str, dict]:
    """{qid: {"doc_id": [...], "score": [...], "keys": [[conv_id, turn_idx], ...]}}."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(
        cache_dir,
        f"{inputs.workload}-{scale}-{inputs.seed}-{_inputs_digest(inputs)}-{_engine_digest()}.json")
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = sorted(set(qids) - set(cached))
    if missing:
        oracle = BruteForceOracle(inputs.corpus)
        analyzer = LuceneChainAnalyzer()
        keys = inputs.corpus[KEY_COLS]
        for qid in missing:
            q = inputs.queries[qid]
            spec = parse_fixture_query(analyzer, q["qtype"], q["terms"], q["min_should"])
            top = oracle.search(spec, q["k"])
            docs = [int(d) for d in top["doc_id"]]
            cached[qid] = {
                "doc_id": docs,
                "score": [float(np.float32(s)) for s in top["score"]],
                "keys": [[str(keys.conv_id.iat[d]), int(keys.turn_idx.iat[d])] for d in docs],
            }
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, path)
    return {qid: cached[qid] for qid in qids}


def same_topk(rows: list, gold: dict, with_keys: bool) -> bool:
    """Rank-ordered engine rows (doc_id, score[, conv_id, turn_idx]) equal
    the golden doc ids, float32 scores and, when fetched, doc keys."""
    if [int(r["doc_id"]) for r in rows] != gold["doc_id"]:
        return False
    if [float(np.float32(r["score"])) for r in rows] != gold["score"]:
        return False
    if with_keys:
        return [[r["conv_id"], int(r["turn_idx"])] for r in rows] == gold["keys"]
    return True
