#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` wraps the engine's layer boundaries in spans and prints the
per-layer metrics (see perfbench/README.md). The last line of standard
output is the result object; the line before it is run metadata (seed,
nproc, load average, versions, input generation time, errors)."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    OUT_DIR,
    ROOT,
    WORK_DIR,
    JobCounter,
    cpu_ticks,
    emit,
    environment,
    loadavg,
    median,
    now,
    nproc,
    peak_rss_mb,
    process_age_s,
    steal_share,
)
from tracing import Tracer  # noqa: E402

WORKLOADS = ("etl_batch", "curation")

# The per-layer metrics BENCHMARK.json lists, by name, with their units.
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _workload(name: str):
    if name == "etl_batch":
        from etl_batch import EtlBatch

        return EtlBatch
    from curation import Curation

    return Curation


def run(args) -> int:
    load_start, ticks_start = loadavg(), cpu_ticks()
    try:
        from ningaloo_turtle_etl_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    work_dir = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work_dir, "spark-local"))
    tracer = Tracer(enabled=bool(args.trace))
    workload = spark = None
    try:
        t = now()
        workload = _workload(args.workload)(args.seed, work_dir, args.seconds)
        gen_s = now() - t

        t = now()
        spark = get_spark()
        get_spark_s = now() - t
        spark.sparkContext.setLogLevel("ERROR")
        workload.instrument(tracer)
        setup_s = process_age_s() - gen_s

        jobs = JobCounter(spark, enabled=tracer.enabled)
        samples, attempted, failed = workload.measure(spark, args.seconds, tracer, jobs)
        rss_parts = peak_rss_mb()
        rss = sum(rss_parts.values())
        e2e = {"wall_s": (median(samples), "s"), "setup_s": (setup_s, "s")}
        meta = {
            "workload": args.workload,
            "trace": args.trace,
            **environment(spark, args.seed),
            "loadavg_start": load_start,
            "gen_s": gen_s,
            "samples": len(samples),
            "sample_values_s": samples,
            "peak_rss_mb": rss,
            "peak_rss_parts_mb": rss_parts,
            "ops_failed_frac": failed / max(1, attempted),
            "errors": workload.errors[:20],
            "spark_per_op": jobs.per_op,
            **workload.meta(),
        }
        if args.trace:
            layer = {
                "session.get_spark_s": (get_spark_s, "s"),
                **jobs.metrics(),
                "runtime.cpu_s_per_op": (median(meta.get("op_cpu_s") or [0.0]), "s"),
                **workload.layer_metrics(tracer),
                **{f"trace.{k}": v for k, v in e2e.items()},
                "trace.peak_rss_mb": (rss, "MB"),
            }
            # Every listed metric, 0 where the workload does not run that layer.
            metrics = {k: layer.get(k, (0.0, unit)) for k, unit in PER_LAYER.items()}
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = e2e
        meta["loadavg_end"] = loadavg()
        meta["cpu_steal_share"] = steal_share(ticks_start, cpu_ticks())
        emit(not workload.errors and failed == 0, attempted, failed, metrics, meta)
        return 0
    finally:
        tracer.restore()
        if workload is not None:
            workload.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
