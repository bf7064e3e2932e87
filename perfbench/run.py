"""Benchmark of record for sparkcrawl.

    python3 perfbench/run.py --workload crawl-wide --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, starts one
local Spark driver (``local[nproc]``, shuffle partitions = nproc), sets the
workload up, measures it for at least ``--seconds`` (whole operations: a
crawl superstep, or one pass of the offline jobs), checks the outputs, and
prints a human-readable report line followed by one JSON result line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions in spans and reports the per-layer metrics instead
(the spans are written to ``.bench_work/trace-<workload>-<seed>.json``).
Everything the run writes stays under ``.bench_work/`` in the repository.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = (
    ("setup_s", "s"),
    ("run_cpu_s", "s"),
    ("rows_per_cpu_s", "1/s"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    ("superstep.spark_jobs", "count"),
    ("superstep.spark_tasks", "count"),
    ("superstep.self_s", "s"),
    ("membership.update_s", "s"),
    ("membership.blob_bytes", "bytes"),
    ("store.checkpoint_commit_s", "s"),
    ("store.fetch_log_append_s", "s"),
    ("store.documents_append_s", "s"),
    ("store.frontier_merge_s", "s"),
    ("store.bytes_written_per_fetch", "bytes"),
    ("store.files_written", "count"),
    ("store.frontier_read_s", "s"),
    ("store.deltas_per_read", "count"),
    ("store.compact_s", "s"),
    ("schedule.rank_total_order_s", "s"),
    ("schedule.batch_rows", "count"),
    ("dedup.new_ratio", "ratio"),
    ("robots.denied", "count"),
    ("offline.freshness_s", "s"),
    ("offline.health_s", "s"),
    ("offline.traps_s", "s"),
    ("offline.saturation_s", "s"),
    ("offline.curate_s", "s"),
    ("offline.rows_touched", "count"),
    ("trace.run_s", "s"),
    ("trace.wrapper_s", "s"),
)
WORKLOADS = ("crawl-wide", "offline")
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_settings(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "extra_conf": {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": " ".join((
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Xms{DRIVER_MEMORY}",        # no heap-resize decisions in peak RSS
                "-XX:TieredStopAtLevel=1",     # C1 only: runs are too short for C2
                "-XX:-UsePerfData",            # no hsperfdata file outside the checkout
                "-XX:+UseSerialGC",            # no GC threads competing with the tasks
            )),
        },
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext, then end the driver JVM and its Python
    workers and wait for each of them."""
    import signal
    import subprocess

    from perfbench import procfs

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    below = procfs.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in below:
        while procfs.alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if procfs.alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("sparkcrawl/plans/superstep.py", "tests/reference_sim.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; "
                  "run from a full checkout of the repository", file=sys.stderr)
            return 2

    bench = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("spark-local", "tmp", "warehouse", "crawl"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the driver, its JVM and the Python workers all import from the checkout
    # and keep their scratch files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARKCRAWL_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    from perfbench import metrics, workloads
    from perfbench.trace import Tracer

    settings = session_settings(work)
    tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
    t0 = time.perf_counter()
    from sparkcrawl.session import get_spark

    spark = get_spark(app_name="perfbench", **settings)
    session_s = time.perf_counter() - t0
    try:
        if tracer:
            workloads.install_layer_spans(tracer)
        runner = workloads.run_crawl if args.workload == "crawl-wide" else workloads.run_offline
        out = runner(spark, os.path.join(work, "crawl"), args.seed, args.seconds, tracer)
    finally:
        if tracer:
            tracer.restore()
        stop_spark(spark)

    run_s = metrics.median(out.rounds_s) if out.rounds_s else float("nan")
    # wall-clock figures go to the report line only: on a shared host they
    # drift far more between runs than CPU seconds do (perfbench/README.md)
    values = {
        "setup_s": session_s + out.setup_s,
        "run_s": run_s,
        "op_s.p50": metrics.median(out.ops_s) if out.ops_s else float("nan"),
        "rows_per_s": out.rows / sum(out.rounds_s) if out.rounds_s else 0.0,
        "run_cpu_s": metrics.median(out.rounds_cpu_s) if out.rounds_cpu_s else float("nan"),
        "rows_per_cpu_s": out.rows / sum(out.rounds_cpu_s) if out.rounds_cpu_s else 0.0,
        "peak_rss_mb": out.peak_rss_mb,
    }
    record = os.path.join(bench, f"untraced-{args.workload}-{args.seed}.json")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session": settings, "session_s": session_s, "setup_s": values["setup_s"],
        "rounds_s": out.rounds_s, "ops_s": out.ops_s, "rounds_cpu_s": out.rounds_cpu_s,
        "failed_frac": metrics.failed_frac(out.failed, max(out.attempted, 1)),
        "errors": out.errors, "end_to_end": values, **out.report,
    }
    if tracer:
        layers = {name: 0.0 for name, _ in PER_LAYER}
        layers.update(out.layers)
        layers["trace.run_s"] = run_s
        layers["trace.wrapper_s"] = tracer.wrapper_s
        if os.path.exists(record):
            with open(record) as f:
                base = json.load(f)["run_s"]
            report["tracing_overhead_frac"] = (run_s - base) / base
        tracer.write(os.path.join(bench, f"trace-{args.workload}-{args.seed}.json"))
        result = {name: (layers[name], unit) for name, unit in PER_LAYER}
    else:
        with open(record, "w") as f:
            json.dump({"run_s": run_s}, f)
        result = {name: (values[name], unit) for name, unit in END_TO_END}
    report["metrics"] = {k: v for k, (v, _) in result.items()}
    shutil.rmtree(work, ignore_errors=True)

    print("report: " + json.dumps(report, default=str))
    print(metrics.result_line(
        correct=out.failed == 0 and out.attempted > 0,
        attempted=max(out.attempted, 1),
        failed=out.failed if out.attempted else 1,
        metrics=result,
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
