"""irkit_spark benchmark: one seeded workload per run, one JSON result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 2 --trace 0
    python3 perfbench/run.py --smoke      # tiny corpus, both workloads, traced

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones (E2E below); with
``--trace 1`` they are the per-layer ones (LAYER), and the spans are
written to ``.perfbench/traces/``. The line before it records the
deployment settings. See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# deployment: identical on both sides of any A/B
CORES = 4                   # local[4]
# local mode: the one JVM heap, committed and touched at start, so
# the JVM's share of peak_rss_mb does not depend on how far GC let the
# heap grow in a run (that alone moved it by 25%)
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 4
# A run lives about a minute: C2 compiler threads would compete with
# the 4 task threads for the whole run, so the JVM stops at C1
# (on a 4-vCPU VM: median warm build 7.3 s -> 6.0 s).
JIT_FLAG = "-XX:TieredStopAtLevel=1"

# input sizes
N_DOCS = 6000
N_SHARDS = 8
LOG_SIZE = 120
SMOKE = {"n_docs": 600, "n_shards": 4, "log_size": 40, "seconds": 1.0,
         "setup_reps": 1}

E2E = {
    "setup_s": "s",
    "bytes_per_posting": "B",
    "peak_rss_mb": "MB",
    "spark_jobs_per_query": "count",
    "spark_tasks_per_query": "count",
}

LAYER = {
    "build.postings_per_s": "postings/s",
    "build.lexicon_s": "s",
    "build.tokenize_write_s": "s",
    "build.docs_write_s": "s",
    "build.shuffle_encode_write_s": "s",
    "build.terms_write_s": "s",
    "build.lineage_stats_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.skew_ratio": "ratio",
    "extract.docs_per_s": "docs/s",
    "tokenize.tokens_per_s": "tokens/s",
    "codecs.encode_postings_per_s": "postings/s",
    "codecs.decode_postings_per_s": "postings/s",
    "dense_ids.mapping_s": "s",
    "query.index_open_s": "s",
    "query.dl_broadcast_s": "s",
    "query.lookup_ms": "ms",
    "query.search_call_ms": "ms",
    "query.collect_ms": "ms",
    "query.jobs_per_query": "count",
    "query.zero_job_share": "ratio",
    "query.cache_fill_s": "s",
    "query.cache_fill_jobs": "count",
    "dist.jobs_per_query": "count",
    "dist.stages_per_query": "count",
    "dist.tasks_per_query": "count",
    "taat.jobs_per_query": "count",
    "batch.jobs": "count",
    "batch.tasks": "count",
    "batch.rows_per_query": "rows",
    "delete.jobs": "count",
    "delete.p50_ms": "ms",
    "query.del_broadcast_s": "s",
    "churn.first_query_after_write_ms": "ms",
    "churn.first_query_after_write_jobs": "count",
    "update.jobs": "count",
    "update.tasks": "count",
    "update.wall_s": "s",
    "serve.repeated_term_share": "ratio",
    "trec.shared_term_share": "ratio",
    "serve.working_set_postings": "postings",
    "trace.overhead_ratio": "ratio",
    "window.query_p50_ms": "ms",
    "window.qps": "1/s",
}


def _environment(tmp: str) -> None:
    """Pin the deployment before pyspark starts the JVM; keep every
    file Spark, the JVM and Python write inside the checkout."""
    for k in [k for k in os.environ if k.startswith("IRKIT_")]:
        del os.environ[k]
    os.environ["IRKIT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", JIT_FLAG,
        f"-Xms{DRIVER_MEMORY}", "-XX:+AlwaysPreTouch")))
    sys.path.insert(0, ROOT)


def _settings(spark, sizes: dict) -> dict:
    import numpy
    import pandas
    import pyarrow
    conf = spark.sparkContext.getConf()
    return {"master": spark.sparkContext.master,
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "spark": spark.version, "python": platform.python_version(),
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__, "host_cpus": os.cpu_count(),
            **sizes}


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait for it; its Python workers go with it."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _result(run, trace: bool) -> dict:
    names, values = (LAYER, run.layer) if trace else (E2E, run.e2e)
    metrics, failed = {}, run.failed
    for name, unit in names.items():
        v = values.get(name)
        if v is None or not math.isfinite(float(v)):
            print(f"perfbench: metric {name} not measured",
                  file=sys.stderr)
            failed += 1
            v = 0.0
        metrics[name] = {"value": float(v), "unit": unit}
    return {"correct": failed == 0, "attempted": run.attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("serve", "trec"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, both workloads, traced")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required (or --smoke)")
    if not os.path.isfile(os.path.join(ROOT, "irkit_spark",
                                       "__init__.py")):
        print("perfbench: no irkit_spark package beside perfbench/; "
              "run it from a checkout of the repository",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    _environment(os.path.join(run_dir, "tmp"))
    from irkit_spark.config import get_spark

    from perfbench.spans import Tracer
    from perfbench.workloads import SETUP_REPS, run_workload

    if args.smoke:
        sizes = dict(SMOKE)
        workloads = [args.workload] if args.workload else ["serve",
                                                           "trec"]
        trace = True
    else:
        sizes = {"n_docs": N_DOCS, "n_shards": N_SHARDS,
                 "log_size": LOG_SIZE, "seconds": args.seconds,
                 "setup_reps": SETUP_REPS}
        workloads, trace = [args.workload], bool(args.trace)
    spark = get_spark("perfbench", CORES,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    try:
        settings = _settings(spark, sizes)
        for wl in workloads:
            tracer = Tracer(spark.sparkContext, trace)
            work = os.path.join(run_dir, wl)
            os.makedirs(work, exist_ok=True)
            run = run_workload(
                spark, tracer, wl, args.seed, sizes["seconds"], work,
                os.path.join(WORK, "inputs"), sizes["n_docs"],
                sizes["n_shards"], sizes["log_size"],
                sizes["setup_reps"])
            if trace:
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                tracer.write(os.path.join(
                    WORK, "traces", f"{wl}-s{args.seed}.json"),
                    {"workload": wl, "seed": args.seed, **settings})
            results.append(_result(run, trace))
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"settings": settings}))
    for res in results:
        print(json.dumps(res))
    return 0 if all(r["correct"] for r in results) or not args.smoke \
        else 1


if __name__ == "__main__":
    sys.exit(main())
