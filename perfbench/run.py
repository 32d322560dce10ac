"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each invocation is one fresh process: it
generates the workload's inputs and reference results from ``--seed``,
starts Spark, measures, checks every output against the repository's
own oracles and prints one JSON object as its last stdout line.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
one traced pass and reports the per-layer metrics (see
perfbench/README.md for what each one means and should move).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import (EventLog, RssSampler, Tracer,  # noqa: E402
                             event_log_conf, log, median)

WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
WORKLOADS = ("crawl_polite", "analytics_fixpoint")
UNTRACED_LOG = os.path.join(WORK, "untraced.jsonl")


def _load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _start_spark(extra_conf: dict | None = None):
    from crawler_spark.session import get_spark

    t0 = time.time()
    if extra_conf:
        spark = get_spark("perfbench", master=MASTER,
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=extra_conf)
    else:
        spark = get_spark("perfbench", master=MASTER,
                          shuffle_partitions=SHUFFLE_PARTITIONS)
    start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _record_untraced(workload: str, wall_s: float) -> None:
    with open(UNTRACED_LOG, "a") as f:
        f.write(json.dumps({"workload": workload, "wall_s": wall_s}) + "\n")


def _untraced_median(workload: str) -> float | None:
    try:
        with open(UNTRACED_LOG) as f:
            walls = [r["wall_s"] for r in map(json.loads, f) if r["workload"] == workload]
    except FileNotFoundError:
        return None
    return median(walls) if walls else None


def _module(workload: str):
    from perfbench import analytics, crawl

    return crawl if workload == "crawl_polite" else analytics


def run_timed(workload: str, seed: int, seconds: float, work: str) -> dict:
    mod = _module(workload)
    prep = mod.prepare(work, seed)
    log("inputs ready")
    spark, _ = _start_spark()
    log("spark up")
    try:
        res = mod.timed(spark, prep, work, seconds)
    finally:
        _stop_spark(spark)
    _record_untraced(workload, res["wall_s"])
    return {
        "shares": res["shares"],
        "metrics": {
            "wall_s": res["wall_s"],
            "setup_s": res["setup_s"],
            "correct_share": min(res["shares"]),
        },
    }


def run_traced(workload: str, seed: int, seconds: float, work: str) -> dict:
    mod = _module(workload)
    prep = mod.prepare(work, seed)
    # tracing overhead = traced wall - median untraced wall of the timed
    # runs recorded in this checkout; with none recorded yet, an
    # untraced pass runs in this process just before the traced one
    base = _untraced_median(workload)
    tracer = Tracer()
    log_dir = os.path.join(work, "eventlog")
    with RssSampler() as rss:
        spark, start_s = _start_spark(event_log_conf(log_dir))
        try:
            res = mod.traced(spark, prep, work, tracer, base is None)
        finally:
            _stop_spark(spark)
    tracer.write(os.path.join(WORK, f"spans_{workload}.json"))
    metrics = {name: 0.0 for name in _per_layer_names()}
    metrics.update(res["metrics"])
    metrics.update(res["job_metrics"](EventLog(log_dir)))
    metrics["session.start_s"] = start_s
    metrics["session.peak_rss_mb"] = rss.peak_mb
    metrics["trace.wall_s"] = res["wall_s"]
    metrics["trace.overhead_s"] = res["wall_s"] - (
        base if base is not None else res["untraced_wall_s"])
    return {"shares": res["shares"], "metrics": metrics}


def _per_layer_names() -> list[str]:
    return [m["name"] for m in _load_benchmark()["per_layer"]]


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _load_benchmark()[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be present next to the benchmark:
    # without it there is nothing to measure and no result to print
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "__init__.py")):
        print(f"perfbench: no crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # keep every temporary file of Python, Spark and the JVM (shuffle
    # blocks, extracted native libraries) inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # (-XX:-UsePerfData: no hsperfdata file under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        if args.trace:
            res = run_traced(args.workload, args.seed, args.seconds, work)
            units = _units("per_layer")
        else:
            res = run_timed(args.workload, args.seed, args.seconds, work)
            units = _units("end_to_end")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # a unit (crawl, or one query of a pass) whose outputs do not all
    # match the oracle counts as failed
    failed = sum(1 for x in res["shares"] if x < 1.0)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(res["shares"]), "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
