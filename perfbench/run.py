"""Engine benchmark: index build, single-query and query-set search on
local[nproc], checked against golden results; a traced run adds updates.

Run from the repository root:

    python3 perfbench/run.py --workload fixture --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run that times calls into each engine layer and prints the per-layer
metrics. The last stdout line is the JSON result; a fuller artifact (host
context, samples, spans) is written under ``.perfbench/artifacts/``.
See perfbench/README.md for the metric → layer → workload map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("fixture", "wide_vocab")

END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "qset_qps": "queries/s",
    "peak_pss_mb": "MiB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class Gate:
    """Counts checked operations and the ones that failed or returned a
    wrong result. ``corrupt`` damages the first checked query result, so a
    self-test can prove the gate fails."""

    def __init__(self, corrupt: bool = False):
        self.attempted = 0
        self.failures: list[str] = []
        self._corrupt = corrupt

    def maybe_corrupt(self, rows: list[dict]) -> list[dict]:
        if self._corrupt:
            self._corrupt = False
            return rows + [{"doc_id": -1, "score": 0.0, "conv_id": "", "turn_idx": -1}]
        return rows

    def record(self, op: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{op}: {detail}" if detail else op)
        return ok

    @contextmanager
    def guard(self, op: str):
        """An operation that raises counts as failed; the run goes on."""
        try:
            yield
        except Exception:  # noqa: BLE001 — any engine error is a failed operation
            traceback.print_exc()
            self.record(op, False, traceback.format_exc(limit=1).strip())


class Bench:
    """One run: owns the Spark session, the work directory and the gate."""

    def __init__(self, args):
        from inputs import make_inputs

        self.args = args
        self.gate = Gate(corrupt=args.corrupt)
        self.work = os.path.join(STATE, f"work-{os.getpid()}")
        self.inputs = make_inputs(args.workload, args.seed, args.scale)
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.samples: dict[str, list[float]] = {}
        self.context: dict = {}
        self.spark = None
        self.gold: dict = {}
        self.index_dir = self.manifest = self.hashes = None
        self._n_index = 0

    # -- lifecycle ---------------------------------------------------------

    def configure_env(self) -> None:
        """Keep every file Spark, the JVM and the Python workers write
        inside the work directory, and give workers the engine on their
        path."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])])
        os.environ["SPARK_DRIVER_MEM"] = "1g"
        # every JVM, the spark-submit launcher too, keeps its temporary and
        # perf-data files out of the system temp directory
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.local.dir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )

    def start_spark(self) -> float:
        from lucene_solr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=_nproc())
        return time.perf_counter() - t0

    def warm_workers(self) -> float:
        """Start every Python worker with the analyzer imported and used
        once, so the first build does not pay worker spawn."""
        n = 2 * _nproc()
        t0 = time.perf_counter()
        (self.spark.range(0, n, numPartitions=n)
         .selectExpr("cast(id as string) as t")
         .mapInPandas(_warm_worker, "t string").count())
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, the JVM and every process below this one, and wait
        until each has ended."""
        from probes import descendants

        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            self.spark = None
        deadline = time.monotonic() + 30
        while (left := descendants(os.getpid())) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)

    # -- operations shared by the timed and traced runs ---------------------

    def new_index_dir(self) -> str:
        self._n_index += 1
        return os.path.join(self.work, f"index{self._n_index}")

    def build(self, index_dir: str):
        from lucene_solr_spark.index.build import build_index_presorted

        return build_index_presorted(self.spark, self.corpus_dir, index_dir)

    def check_build(self, manifest, hashes: set | None) -> bool:
        """Σ n_docs equals the input turns, and every build of the run
        yields the same segment content hashes."""
        got = set(manifest["content_hash"])
        ok = int(manifest["n_docs"].sum()) == len(self.inputs.corpus)
        ok = ok and (hashes is None or got == hashes)
        return self.gate.record("build", ok, f"n_docs={int(manifest['n_docs'].sum())}")

    def check_query(self, qid: str, rows, gold: dict) -> bool:
        from golden import same_topk

        rows = [r.asDict() for r in sorted(rows, key=lambda r: r["rank"])]
        rows = self.gate.maybe_corrupt(rows)
        return self.gate.record("query", same_topk(rows, gold, with_keys=True), qid)

    def check_qset(self, rows, golden: dict) -> bool:
        from golden import same_topk

        by_q: dict[str, list] = {qid: [] for qid in self.inputs.qset}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(r.asDict())
        bad = [qid for qid in self.inputs.qset
               if not same_topk(by_q[qid], golden[qid], with_keys=False)]
        ok = not bad and len(by_q) == len(self.inputs.qset)
        return self.gate.record("qset", ok, ",".join(bad))

    def parse(self, searcher, qid: str):
        q = self.inputs.queries[qid]
        return searcher.parse(q["qtype"], q["terms"], q["min_should"]), q["k"]

    def compile_qset(self, searcher):
        return searcher.compile_many({qid: self.parse(searcher, qid) for qid in self.inputs.qset})

    def load_golden(self) -> None:
        from golden import golden_results

        qids = sorted(set(self.inputs.sequence) | set(self.inputs.qset))
        self.gold = golden_results(self.inputs, qids, os.path.join(STATE, "golden"),
                                   self.args.scale)

    # -- setup ---------------------------------------------------------------

    def setup(self) -> dict:
        """Spark start, worker warm-up, corpus write (median of three) and
        the cold build of the index the timed phases start from."""
        from inputs import write_corpus

        parts = {"session.start_s": self.start_spark(),
                 "session.worker_warm_s": self.warm_workers()}
        writes = []
        for _ in range(3):
            shutil.rmtree(self.corpus_dir, ignore_errors=True)
            t0 = time.perf_counter()
            write_corpus(self.inputs.corpus, self.corpus_dir, 2 * _nproc())
            writes.append(time.perf_counter() - t0)
        parts["corpus_write_s"] = statistics.median(writes)
        self.index_dir = self.new_index_dir()
        t0 = time.perf_counter()
        manifest = self.build(self.index_dir)
        parts["cold_build_s"] = time.perf_counter() - t0
        manifest = manifest.toPandas()
        self.check_build(manifest, None)
        self.hashes = set(manifest["content_hash"])
        self.manifest = manifest
        parts["setup_s"] = sum(parts.values())
        return parts

    # -- timed run -------------------------------------------------------------

    def _sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def timed(self, seconds: float) -> dict:
        """Warm-up, then rounds of build → queries → query set.

        Interleaving spreads each metric's samples over the whole run, so a
        burst of host contention moves every metric a little instead of one
        metric a lot. Queries and the query set read the setup's index.
        A fresh searcher's first queries and first query set are slower
        than later ones, so one query per operator family and one query set
        run untimed first.
        The build's first warm run is often slower too; it is one sample of
        several, and the median passes over it. ``seconds`` sets the number
        of rounds at ``ROUND_S`` nominal seconds each, so every run measures
        the same operations whatever the host's speed."""
        from inputs import MAX_ROUNDS, QSETS_PER_ROUND, QUERIES_PER_ROUND, ROUND_S
        from lucene_solr_spark.search.searcher import IndexSearcher

        inputs, gold, gate = self.inputs, self.gold, self.gate
        searcher = IndexSearcher(self.spark, self.index_dir)
        for qid in inputs.warm:
            with gate.guard("query"):
                spec, k = self.parse(searcher, qid)
                self.check_query(qid, searcher.search(spec, k=k, with_keys=True).collect(),
                                 gold[qid])
        with gate.guard("qset"):
            self.check_qset(
                searcher.search_many(self.compile_qset(searcher), mode="wand").collect(), gold)

        index_bytes = None
        seq = iter(inputs.sequence)
        rounds = min(MAX_ROUNDS, max(1, round(seconds / ROUND_S)))
        for _ in range(rounds):
            with gate.guard("build"):
                index_dir = self.new_index_dir()
                t0 = time.perf_counter()
                manifest = self.build(index_dir)
                self._sample("build_s", time.perf_counter() - t0)
                self.check_build(manifest.toPandas(), self.hashes)
                index_bytes = _dir_bytes(index_dir)
                shutil.rmtree(index_dir, ignore_errors=True)

            for qid in itertools.islice(seq, QUERIES_PER_ROUND):
                with gate.guard("query"):
                    spec, k = self.parse(searcher, qid)
                    t0 = time.perf_counter()
                    rows = searcher.search(spec, k=k, with_keys=True).collect()
                    self._sample("query_ms", 1e3 * (time.perf_counter() - t0))
                    self.check_query(qid, rows, gold[qid])

            for _ in range(QSETS_PER_ROUND):
                with gate.guard("qset"):
                    t0 = time.perf_counter()
                    rows = searcher.search_many(self.compile_qset(searcher), mode="wand").collect()
                    self._sample("qset_s", time.perf_counter() - t0)
                    self.check_qset(rows, gold)
        self.context["rounds"] = rounds
        drawn = inputs.sequence[:len(self.samples.get("query_ms", []))]
        self.context["query_repeat_share"] = 1 - len(set(drawn)) / max(len(drawn), 1)

        s = {k: statistics.median(v) for k, v in self.samples.items()}
        return {
            "build_turns_per_s": len(inputs.corpus) / s["build_s"],
            "index_bytes_per_text_byte": index_bytes / inputs.text_bytes,
            "query_p50_ms": s["query_ms"],
            "qset_qps": len(inputs.qset) / s["qset_s"],
        }


def _warm_worker(it):
    from lucene_solr_spark.analysis import LuceneChainAnalyzer

    analyzer = LuceneChainAnalyzer()
    for batch in it:
        analyzer.analyze_batch(batch["t"])
        yield batch


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def run(args) -> dict:
    """One benchmark run → the result object printed as the last line."""
    from probes import MemorySampler, cpu_steal_s, loadavg_1m

    bench = Bench(args)
    inputs = bench.inputs
    ctx = bench.context
    ctx.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
               scale=args.scale, nproc=_nproc(), loadavg_1m_before=loadavg_1m(),
               cpu_steal_s=-cpu_steal_s(),
               versions=_versions(), turns=len(inputs.corpus), text_bytes=inputs.text_bytes,
               query_pool=len(inputs.queries), update_batch=len(inputs.batches[0]))
    bench.configure_env()
    try:
        # golden results first: outside setup and timing, cached per seed
        bench.load_golden()
        with MemorySampler() as mem:
            setup = bench.setup()
            ctx["setup"] = setup
            ctx["terms_per_segment"] = [int(n) for n in bench.manifest["n_terms"]]
            if args.trace:
                from traced import traced_run

                metrics, spans = traced_run(bench)
                ctx["self_s"] = spans.self_times()
                ctx["spans"] = spans.spans
            else:
                metrics = bench.timed(args.seconds)
                metrics["setup_s"] = setup["setup_s"]
        if not args.trace:
            metrics["peak_pss_mb"] = mem.peak_mb
        ctx["pss_at_peak"] = mem.at_peak
    finally:
        t0 = time.perf_counter()
        bench.stop()
        ctx["stop_s"] = time.perf_counter() - t0
    ctx["loadavg_1m_after"] = loadavg_1m()
    ctx["cpu_steal_s"] += cpu_steal_s()
    ctx["samples"] = bench.samples
    ctx["failures"] = bench.gate.failures
    if args.trace:
        from traced import PER_LAYER as units
    else:
        units = END_TO_END
    result = {
        "correct": not bench.gate.failures,
        "attempted": bench.gate.attempted,
        "failed": len(bench.gate.failures),
        "metrics": {name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()},
    }
    _write_artifact(ctx, result)
    return result


def _write_artifact(ctx: dict, result: dict) -> None:
    out = os.path.join(STATE, "artifacts")
    os.makedirs(out, exist_ok=True)
    name = f"{ctx['workload']}-seed{ctx['seed']}-trace{ctx['trace']}-{int(time.time())}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump({"context": ctx, "result": result}, f, indent=1, default=str)
    print(json.dumps({"context": {k: v for k, v in ctx.items()
                                  if k not in ("spans", "samples")}}, default=str))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for perfbench/selftest.py")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one checked result (self-test of the gate)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print("perfbench: run from the repository root (lucene_solr_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report and fail the run without a result
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
