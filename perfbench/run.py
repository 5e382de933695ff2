"""Benchmark of the event store: bulk ingest through replication and
consumption, and the analytics suite.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run works in a fresh directory
under ``.perfbench/`` (TMPDIR, Spark local dirs, warehouse, store root,
checkpoints), so no artifact of an earlier run is reused. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it is the run's report: the box, the versions, every named
metric of the workloads with its unit, and the sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")
WORKLOADS = ("ingest_bulk", "analytics_suite")
#: a run that has not ended by then stops its processes and fails
DEADLINE_S = 170

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from harness import Tracer, box, cpu_seconds, descendants, peak_rss_mb, wait_gone  # noqa: E402

#: the workload-specific names the report line carries, with their units
REPORT_METRICS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "append_p50_s": "s",
    "append_p90_s": "s",
    "deliver_p50_s": "s",
    "deliver_p90_s": "s",
    "replay_p50_s": "s",
    "query_cold_p50_s": "s",
    "query_cold_p90_s": "s",
    "query_warm_p50_s": "s",
    "query_warm_p90_s": "s",
    "suite_warm_s": "s",
    "failed_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a defect injected on purpose, for the smoke test of the checks
    ap.add_argument("--inject", choices=("drop-event", "tamper-digest"), default=None)
    return ap.parse_args(argv)


def contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fresh_dirs(args: argparse.Namespace) -> str:
    """A new run directory, and the environment pointed into it before
    the JVM or any temp file exists."""
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def start_spark(run_dir: str, the_box: dict):
    from event_store_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEMORY"] = f"{the_box['jvm_heap_gb']}g"
    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        cpus=the_box["cpus"],
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(run_dir, "local"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process below this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    kids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in wait_gone(kids, 10):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(kids, 10)


def versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def run_workload(args: argparse.Namespace, run_dir: str, the_box: dict) -> dict:
    """Start the session, run the workload, stop every process."""
    t_start = time.perf_counter()
    # importing the package under test is part of start-up; without it
    # beside the benchmark the run fails here, before printing a result
    import event_store_spark  # noqa: F401

    t0 = time.perf_counter()
    spark = start_spark(run_dir, the_box)
    session_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace))
    ctx = {
        "seed": args.seed,
        "seconds": args.seconds,
        "run_dir": run_dir,
        "fixture_dir": FIXTURE,
        "tracer": tracer,
        "inject": args.inject,
    }
    try:
        env = {**the_box, **versions(spark)}
        setup_s = time.perf_counter() - t_start
        setup_cpu_s = cpu_seconds()
        if args.workload == "analytics_suite":
            from analytics import run_analytics

            res = run_analytics(spark, ctx)
        else:
            from ingest import run_bulk

            res = run_bulk(spark, ctx)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
    res["env"] = env
    res["session_s"] = session_s
    res["tracer"] = tracer
    res["e2e"]["setup_s"] = setup_s + res.get("setup_extra_s", 0.0)
    res["e2e"]["setup_cpu_s"] = setup_cpu_s + res.get("setup_extra_cpu_s", 0.0)
    res["e2e"]["peak_rss_mb"] = rss
    return res


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec = contract()
    run_dir = fresh_dirs(args)
    try:
        res = run_workload(args, run_dir, box())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failures = res["attempted"], res["failures"]
    failed = len(failures)
    e2e = res["e2e"]
    named = {name: {"value": None, "unit": unit} for name, unit in REPORT_METRICS.items()}
    for name, (value, unit) in res["named"].items():
        named[name] = {"value": value, "unit": unit}
    named["setup_s"]["value"] = e2e["setup_s"]
    named["peak_rss_mb"]["value"] = e2e["peak_rss_mb"]
    named["failed_ops_ratio"]["value"] = failed / attempted

    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": res["env"],
        "metrics": named,
        "samples": res["samples"],
        "failures": failures[:20],
    }
    if args.trace:
        tracer = res["tracer"]
        layers = {"session.start_s": res["session_s"], **res["layers"]}
        report["layers"] = {**layers, "layer_self_s": tracer.layer_self_seconds()}
        tracer.write(stem + ".spans.jsonl")
        want = spec["per_layer"]
        values = layers
    else:
        want = spec["end_to_end"]
        values = e2e
    # a layer idle on this workload reads 0; every end-to-end metric is
    # measured on every workload
    default = 0.0 if args.trace else None
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], default)), "unit": m["unit"]}
        for m in want
    }
    with open(stem + ".json", "w") as fh:
        json.dump({**report, "result": metrics}, fh, indent=1, default=str)

    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def watchdog() -> None:
    """Past the deadline, kill every process below this one and exit
    non-zero without a result."""
    print(f"run exceeded {DEADLINE_S} s; stopping", file=sys.stderr, flush=True)
    pids = descendants()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(pids, 10)
    os._exit(3)


if __name__ == "__main__":
    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
