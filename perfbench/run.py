"""zsolr benchmark: one command, two workloads, correctness-checked.

    python3 perfbench/run.py --workload {query,dedup} --seed N \
        --seconds S --trace {0,1}

Runs from the root of a source checkout and measures the zsolr tree in
that checkout: the driver, and every Spark Python worker, import zsolr
from the directory above this file (PYTHONPATH is set from here, so an
A/B of two checkouts never mixes trees).  Everything the run writes goes
under ``.perfbench_work/`` in the checkout and is removed at exit; a
traced run leaves its spans in ``.perfbench_spans/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it holds the run's detail: corpus and
query-stream properties, the per-activity figures and any failures.
See perfbench/README.md for the workloads and the metric mapping.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a traced run writes its spans here (JSON lines) when it ends
SPANS = os.path.join(ROOT, ".perfbench_spans")

E2E = ("setup_s", "job_s", "op_p50_ms", "sequence_s")

# every traced run reports all of these; a layer the workload does not
# exercise reads 0 (no calls, no time, no bytes)
PER_LAYER = {
    "session.start_s": "s",
    "build.files_per_s": "1/s",
    "build.docs_tfs_ms": "ms", "build.postings_ms": "ms",
    "build.stats_ms": "ms", "build.driver_self_s": "s",
    "build.jobs": "count", "build.tasks": "count", "build.task_s": "s",
    "build.shuffle_write_bytes": "bytes", "build.input_bytes": "bytes",
    "build.posting_rows": "count", "build.hot_terms": "count",
    "catalog.bytes.postings": "bytes", "catalog.bytes.tfs": "bytes",
    "catalog.bytes.docs": "bytes", "catalog.bytes.term_stats": "bytes",
    "catalog.files": "count", "catalog.index_bytes_per_input_byte": "ratio",
    "catalog.bytes_written_per_added_byte": "ratio",
    "catalog.files_after_writes": "count",
    "parse.parse_us_p50": "us",
    "search.open_ms": "ms", "search.call_ms_p50": "ms",
    "search.collect_ms_p50": "ms", "search.driver_self_ms_p50": "ms",
    "search.jobs_per_query": "count", "search.tasks_per_query": "count",
    "search.shuffle_bytes_per_query": "bytes",
    "search.input_bytes_per_query": "bytes",
    **{f"search.p50_ms.{k}": "ms" for k in (
        "term", "and", "or", "not", "phrase", "fq", "hot", "mid", "rare")},
    "search.first_seen_term_share": "ratio", "search.queries": "count",
    "search_batch.ms_per_query": "ms", "search_batch.jobs_per_call": "count",
    "search_batch.shuffle_bytes_per_call": "bytes",
    "connection.search_ms_p50": "ms",
    "lifecycle.add_s": "s", "lifecycle.delete_s": "s",
    "lifecycle.add.jobs": "count", "lifecycle.add.input_bytes": "bytes",
    "lifecycle.delete.input_bytes": "bytes", "search.reopen_ms": "ms",
    "lifecycle.read_after_write_ms_p50": "ms",
    "ops.minhash_pairs_s": "s", "ops.keep_s": "s",
    "ops.candidate_pairs": "count", "ops.planted_recall": "ratio",
    "ops.pair_precision": "ratio", "ops.kept_docs": "count",
    "ops.shuffle_write_bytes": "bytes", "ops.tasks": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.job_s": "s", "trace.op_p50_ms": "ms",
    "trace.sequence_s": "s",
    "error_ratio": "ratio",
}


def _environment(work: str):
    """Point Spark, its Python workers and every temp dir at this tree."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["ZSOLR_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["ZSOLR_LOCAL_DIR"]
    os.environ["ZSOLR_DRIVER_MEM"] = "2g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def _peak_rss_mb(spark) -> float:
    """Driver Python plus JVM high-water resident memory."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return mb


def _stop(spark):
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("zsolr/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a zsolr checkout (missing {missing})",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))   # only when no other run


def _run(args, work: str) -> int:
    import gen
    import workloads as wl
    from spans import Tracer

    t0 = time.perf_counter()
    corpus = gen.make_corpus(args.seed)
    gen_s = time.perf_counter() - t0

    from zsolr.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("zsolr-perfbench", master="local[4]",
                      shuffle_partitions=8)
    start_s = time.perf_counter() - t0
    run = wl.Run(args, work, T0)
    run.mark("session")
    tr = Tracer(spark, bool(args.trace))
    try:
        {"query": wl.run_query, "dedup": wl.run_dedup}[args.workload](
            run, spark, tr, corpus)
        rss = _peak_rss_mb(spark)
    finally:
        _stop(spark)
    run.mark("stop")

    run.detail.update({"corpus": corpus.properties(), "gen_s": gen_s,
                       "session_start_s": start_s,
                       "failures": run.failures[:20]})
    if args.trace:
        L = run.layers
        L["session.start_s"] = start_s
        L["process.peak_rss_mb"] = rss
        L["trace.overhead_s"] = tr.overhead_s
        for k in ("job_s", "op_p50_ms", "sequence_s"):
            L[f"trace.{k}"] = run.e2e.get(k, (0,))[0]
        L["error_ratio"] = run.failed / max(1, run.attempted)
        metrics = {k: {"value": L.get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
        os.makedirs(SPANS, exist_ok=True)
        tr.dump(os.path.join(
            SPANS, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
    else:
        run.detail["process.peak_rss_mb"] = rss
        metrics = {k: {"value": run.e2e[k][0], "unit": run.e2e[k][1]}
                   for k in E2E if k in run.e2e}

    print(json.dumps({"detail": run.detail}, default=float))
    if len(metrics) < (len(PER_LAYER) if args.trace else len(E2E)):
        print("perfbench: a metric was not measured (see failures)",
              file=sys.stderr)
        return 1
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics},
                     default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
