#!/usr/bin/env python3
"""Benchmark of the CDC ingest engine.

    python3 perfbench/run.py --workload upsert_cow --seed 1 --seconds 3 --trace 0

runs one workload (``upsert_cow`` or ``tail_mor``; see
README.md) in one process at ``local[<nproc>]``, checks the engine's
results against independent DuckDB answers, and prints one JSON object
as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a traced run (spans, Spark's event log and the
commit manifests), whose ingest also runs once untraced, on a table of
its own, for the tracing overhead. Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at exit; every
process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit; the lists BENCHMARK.json declares
E2E = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "cpu_s_per_mevent": "s/Mevent",
    "freshness_p50_s": "s",
}
_S, _N, _B = "s", "count", "bytes"
LAYERS = {
    "session.start_s": _S,
    # user-visible latencies too noisy on a shared 4-core host to bound
    "pipeline.batch_p50_s": _S, "pipeline.freshness_p99_s": _S,
    "tables.state_read_s": _S, "pipeline.lookup_p50_ms": "ms", "tables.change_feed_s": _S,
    "change_log.max_seq_s": _S, "change_log.scan_rows": _N,
    "change_log.scan_bytes": _B, "change_log.scan_s": _S,
    "pipeline.batch_s": _S, "pipeline.self_s": _S, "pipeline.profile_wait_s": _S,
    "pipeline.sidecars_s": _S, "pipeline.spark_jobs_per_batch": _N,
    "pipeline.unlabeled_jobs": _N, "pipeline.unlabeled_job_s": _S,
    "pipeline.driver_gap_s": _S, "pipeline.lookup_jobs": _N,
    "tables.merge_upsert_s": _S, "tables.merge_self_s": _S, "tables.write_s": _S,
    "tables.commit_s": _S, "tables.footer_stats_s": _S,
    "tables.target_scan_rows": _N, "tables.files_added": _N,
    "tables.bytes_written": _B, "tables.rows_written_per_event": "ratio",
    "tables.read_s": _S, "tables.read_files_per_bucket": "ratio",
    "tables.compact_s": _S,
    "dedup.rows_in": _N, "dedup.rows_out": _N, "dedup.keep_ratio": "ratio",
    "dedup.sort_s": _S, "dedup.spill_bytes": _B, "dedup.shuffle_bytes": _B,
    "dedup.shuffle_write_s": _S, "dedup.fetch_wait_s": _S,
    "dedup.partition_skew": "ratio", "dedup.reduce_tasks": _N,
    "extract.rows": _N, "extract.bytes_to_python": _B, "extract.python_s": _S,
    "extract.rows_per_winner": "ratio",
    "executor.run_s": _S, "executor.cpu_s": _S, "executor.gc_s": _S,
    "executor.cpu_util": "ratio",
    "trace.ingest_wall_s": _S, "trace.accounted_frac": "ratio",
    "trace.overhead_s": _S,
    "query.geomean_s": _S,
    "query.lww_latest_event_s": _S, "query.lww_latest_event_salted_s": _S,
    "query.pricing_summary_s": _S, "query.revenue_by_nation_s": _S,
    "query.range_join_1day_s": _S, "query.semi_join_active_customers_s": _S,
}
WORKLOAD_NAMES = ("upsert_cow", "tail_mor")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny inputs, for the harness self-test")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="self-test: perturb one expected value; the run must fail")
    return p.parse_args(argv)


def environment(cores: int) -> dict:
    import pyarrow
    import pyspark

    cpu = platform.processor()
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(l.split(":", 1)[1].strip() for l in f if l.startswith("model name"))
    except (OSError, StopIteration):
        pass
    return {"nproc": cores, "cpu": cpu, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def start_session(work: str, cores: int, trace: bool):
    from clinvar_ingest_spark.session import get_spark

    # get_spark's own settings stand, except where the run would write
    # outside the checkout: shuffle and spill (get_spark puts them on
    # /dev/shm) and the warehouse and JVM temp files go under ``work``
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    t = time.monotonic()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    start_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it.

    ``spark.stop()`` leaves the JVM up; it exits when its stdin closes.
    """
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, work: str, cores: int) -> tuple[dict, object, dict]:
    from perfbench import workloads
    from perfbench.trace import EventLog, Tracer, read_event_log

    spark, start_s = start_session(work, cores, bool(args.trace))
    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores, tracer,
                        toy=args.toy, corrupt_oracle=args.corrupt_oracle)
    try:
        run = workloads.WORKLOADS[args.workload](ctx)
        run.phase_s["session"] = start_s
        if args.trace and args.workload == "upsert_cow":
            workloads.headline_queries(ctx, run)
    finally:
        spark.stop()
        stop_jvm()
    if not args.trace:
        metrics = {"setup_s": start_s + statistics.median(run.setup_cycles_s)
                   + run.setup_read_s, **workloads.latencies(run)}
        units = E2E
    else:
        from perfbench.layers import per_layer

        ev = EventLog(read_event_log(os.path.join(work, "eventlog")),
                      run.log_path, os.path.join(work, "pages"))
        metrics = per_layer(run, tracer, ev, cores, start_s)
        units = LAYERS
    detail = {"workload": args.workload, "seed": args.seed, "env": environment(cores),
              "ingest_wall_s": run.window[1] - run.window[0], "phase_s": run.phase_s,
              "setup_cycles_s": run.setup_cycles_s,
              "stats": workloads.sample_stats(run),
              "problems": run.problems}
    if args.trace:
        detail["spans"] = tracer.as_dicts()
    return {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}, run, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "clinvar_ingest_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import proctree

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run and its JVM write stays in the checkout; Python
    # workers import the engine from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    proctree.adopt_orphans()
    try:
        metrics, run, detail = measure(args, work, cores)
    finally:
        proctree.end_tree()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
