"""SparkSession factory with scale-aware defaults.

Local test/bench runs use ``local[N]``; the same configuration knobs are the
ones that matter on a 1000-executor cluster — AQE for runtime re-planning and
skew joins, partition sizing so scan tasks stay balanced, Arrow for every
Python<->JVM crossing, and a UTC session timezone so event-time semantics are
deterministic and oracle-comparable.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")

# Defaults for a small local host (4 vCPUs is the reference); on a real
# cluster the same settings scale: AQE coalesces shuffle partitions down to
# useful sizes at runtime, and 128 MiB scan partitions keep ~800k
# tasks/100TB — the planner's sweet spot. Shuffle partitions are not here:
# get_spark derives them from the master (shuffle_partitions).
_DEFAULTS = {
    # --- planner / runtime re-planning ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- scan sizing ---
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # --- Python boundary: always Arrow, never row-at-a-time pickling ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- determinism: event-time math must not depend on host tz ---
    "spark.sql.session.timeZone": "UTC",
    # --- broadcast: all reference lookup dims are tiny; 32 MiB of headroom ---
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # quieter local runs
    "spark.ui.enabled": "false",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Spark has no nanosecond timestamp type; read TIMESTAMP(NANOS) parquet
    # columns as raw int64 and let the source layer convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
}


def shuffle_partitions(master: str) -> str:
    """``spark.sql.shuffle.partitions`` for ``master``: one partition per
    local core (``local[N]`` → N, ``local[*]`` → the cores this process may
    run on), 32 for any other master. ``$SPARK_GRAFT_SHUFFLE`` overrides.

    At the scale of one host, a shuffle's cost is one task per partition;
    more partitions than cores only queue tasks (and state-store commits
    in a stateful stream) behind each other."""
    if "SPARK_GRAFT_SHUFFLE" in os.environ:
        return os.environ["SPARK_GRAFT_SHUFFLE"]
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m is None:
        return "32"
    return str(len(os.sched_getaffinity(0))) if m[1] == "*" else m[1]


def get_spark(
    app_name: str = "ningaloo-turtle-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``)
    so the benchmark and pytest share one code path. The variable is read at
    call time, and so is the shuffle partition count derived from the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = shuffle_partitions(master)
    # Local mode runs everything in the driver JVM. 8g leaves headroom for
    # wide shuffles, while very large heaps (24g+) were measured to degrade
    # GC badly under many-threaded UDF-heavy workloads (60s+ regressions on
    # array-heavy queries). Only effective if set before JVM launch.
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(spark: SparkSession, actions: list[Callable[[], T]]) -> list[T]:
    """Run independent zero-argument actions (each typically one Spark
    action) on a thread pool and return their results in input order.

    A single-split input makes most stages one task, so actions run one
    after another leave all but one core idle; submitted together, the
    scheduler runs their tasks side by side. Each action runs with the
    caller's local properties (job group, scheduler pool) and session tags,
    so its jobs are accounted to the caller. Every action is waited for;
    then the first error, in input order, is raised.
    """
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inherit(action)) for action in actions]
    return [f.result() for f in futures]


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
