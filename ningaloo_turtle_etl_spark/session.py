"""SparkSession factory: the engine's defaults, and a cold start from a
cached class archive.

Local runs use ``local[N]``. The defaults turn on AQE for runtime
re-planning and skew joins, size scan partitions, use Arrow for every
Python<->JVM crossing, and pin a UTC session timezone so event-time
semantics are deterministic and oracle-comparable.

Class archive. Most of a cold ``get_spark()`` is the driver JVM loading
about 11k classes from Spark's jars. On JDK 17 the JVM can map them from
a dynamic AppCDS archive instead, which roughly halves the start. The
archive lives in ``$XDG_CACHE_HOME`` (or ``~/.cache``) under
``ningaloo_turtle_etl_spark/cds/``, one file per key: the JDK (its path,
``release`` file and ``libjvm.so``), the Spark version and the exact
launcher classpath (every jar's name, size and mtime, plus the conf
dir). The first launch with a new key runs with
``-XX:ArchiveClassesAtExit`` and dumps the archive when the JVM exits:
a one-time cost, measured on a 4-vCPU host at about 13 s of dump and a
start 2-4 s slower. ``stop_spark()``, or the exit of the process,
waits for that JVM and promotes the archive by rename, but only if the
JVM exited with status 0 and the file holds every region its header
records: mapping a truncated archive kills the JVM with SIGBUS. Every
later launch maps it with ``-XX:SharedArchiveFile``; an archive that
fails the check is deleted instead, and the next launch dumps anew. JDK 17 dumps nothing while a
non-empty directory is on the classpath, so the launch points
``SPARK_CONF_DIR`` at an empty cache directory, and only when Spark's
conf dir holds nothing but ``*.template`` files. Any other JVM, a conf
dir with real files, an extra classpath (``HADOOP_CONF_DIR``,
``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``,
``spark.driver.extraClassPath``) or an unwritable cache launches
without the archive; so does a JVM that rejects it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import struct
import subprocess
from collections.abc import Callable, Iterator, Mapping
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from typing import TypeVar

import pyspark
from pyspark import SparkContext, inheritable_thread_target
from pyspark.find_spark_home import _find_spark_home
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
    The call that launches the driver JVM launches it from the cached class
    archive where it can (see the module docstring).
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
    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        plan = archive_plan(conf, os.environ)
    if plan is not None:
        conf["spark.driver.extraJavaOptions"] = plan.java_options
    for k, v in conf.items():
        builder = builder.config(k, v)
    if plan is None:
        return builder.getOrCreate()
    with _env_set("SPARK_CONF_DIR", plan.conf_dir):
        spark = builder.getOrCreate()
    if plan.dump is not None:
        _await_dump(SparkContext._gateway.proc, *plan.dump)
    return spark


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
    """Stop the active session and the driver JVM this process launched,
    and wait for the JVM to exit; the next ``get_spark()`` launches a new
    one. A JVM that dumps the class archive writes it as it exits, so
    waiting lets this process promote it."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:  # no JVM, or one this process did not launch
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    _wait_for_exit(proc)
    _promote_dump()


# --- class archive (see the module docstring) -----------------------------

# The header of a JDK 17 dynamic archive (HotSpot's CDSFileMapHeaderBase):
# magic, crc and version, then 7 region records of 72 bytes, each holding
# its file offset and used size 24 and 40 bytes in.
_CDS_MAGIC, _CDS_VERSION = 0xF00BABA8, 11
_CDS_REGIONS, _CDS_REGION_AT, _CDS_REGION_BYTES = 7, 16, 72
# Without these the dump writes about 1,300 warning lines, and a rejected
# archive one, to the JVM's stdout, which the Python process shares.
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"
_EXTRA_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_JVM_EXIT_TIMEOUT_S = 300

# (JVM process, temp archive, final archive) of a launch that dumps. A
# process has one driver JVM (pyspark keeps it on SparkContext), so it
# has at most one dump pending.
_pending_dump: tuple[subprocess.Popen, str, str] | None = None


@dataclass(frozen=True)
class ArchivePlan:
    java_options: str  # spark.driver.extraJavaOptions: the caller's, then ours
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty directory
    dump: tuple[str, str] | None  # (temp, final) on a miss; None on a hit


def archive_plan(
    conf: Mapping[str, str], env: Mapping[str, str]
) -> ArchivePlan | None:
    """How to launch the driver JVM for ``conf`` under environment ``env``:
    map the cached archive (hit), dump one (miss), or None to launch
    without one (a fallback, or an archive that fails archive_complete,
    which is deleted)."""
    if any(env.get(k) for k in _EXTRA_CLASSPATH_ENV) or conf.get(
        "spark.driver.extraClassPath"
    ):
        return None
    caller = conf.get("spark.driver.extraJavaOptions", "").strip()
    if re.search(r"SharedArchiveFile|ArchiveClassesAtExit|-Xshare", caller):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    spark_conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not conf_dir_is_templates(spark_conf):
        return None
    java_home = _java_home(env)
    if java_home is None or _java_major(java_home) != 17:
        return None
    cds_dir = archive_dir(env)
    conf_dir = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cds_dir, os.W_OK):
            return None
        key = archive_key(java_home, spark_home, conf_dir)
        final = os.path.join(cds_dir, f"{key}.jsa")
        if archive_complete(final):
            flag, dump = f"-XX:SharedArchiveFile={final}", None
        elif os.path.lexists(final):  # damaged: delete it; the next launch dumps
            os.remove(final)
            return None
        else:
            temp = f"{final}.{os.getpid()}.tmp"
            flag, dump = f"-XX:ArchiveClassesAtExit={temp}", (temp, final)
    except OSError:
        return None
    options = " ".join(o for o in (caller, flag, _CDS_QUIET) if o)
    return ArchivePlan(options, conf_dir, dump)


def archive_dir(env: Mapping[str, str]) -> str:
    base = env.get("XDG_CACHE_HOME")
    if not base or not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "ningaloo_turtle_etl_spark", "cds")


def archive_key(java_home: str, spark_home: str, conf_dir: str) -> str:
    """A digest of what the archive depends on: the JDK, the Spark version
    and the classpath the launcher builds (conf dir, then Spark's jars)."""
    h = hashlib.sha256()
    h.update(f"{java_home}\0{pyspark.__version__}\0{conf_dir}\n".encode())
    jars = os.path.join(spark_home, "jars")
    files = [
        os.path.join(java_home, "release"),
        os.path.join(java_home, "lib", "server", "libjvm.so"),
    ] + [os.path.join(jars, name) for name in sorted(os.listdir(jars))]
    for path in files:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return f"spark-{pyspark.__version__}-{h.hexdigest()[:16]}"


def archive_complete(path: str) -> bool:
    """True if ``path`` is a JDK 17 dynamic archive whose file holds every
    region its header records. A truncated archive must never be mapped:
    the JVM dies of SIGBUS instead of falling back."""
    need = _CDS_REGION_AT + _CDS_REGIONS * _CDS_REGION_BYTES
    try:
        with open(path, "rb") as f:
            head = f.read(need)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < need:
        return False
    magic, _crc, version = struct.unpack_from("=Iii", head)
    if (magic, version) != (_CDS_MAGIC, _CDS_VERSION):
        return False
    ends = []
    for i in range(_CDS_REGIONS):
        at = _CDS_REGION_AT + i * _CDS_REGION_BYTES + 24
        offset, _mapping, used = struct.unpack_from("=3Q", head, at)
        if used:
            ends.append(offset + used)
    return bool(ends) and max(ends) <= size


def conf_dir_is_templates(conf_dir: str) -> bool:
    """True if Spark's conf dir holds nothing but ``*.template`` files (or
    is missing), so an empty directory can stand in for it."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _java_home(env: Mapping[str, str]) -> str | None:
    """The JDK that Spark's launch scripts run: ``$JAVA_HOME``, else
    ``java`` on the PATH."""
    if env.get("JAVA_HOME"):
        java = os.path.join(env["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java", path=env.get("PATH"))
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _java_major(java_home: str) -> int | None:
    try:
        with open(os.path.join(java_home, "release")) as f:
            m = re.search(r'^JAVA_VERSION="(\d+)', f.read(), re.M)
    except OSError:
        return None
    return int(m[1]) if m else None


@contextmanager
def _env_set(name: str, value: str) -> Iterator[None]:
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


def _await_dump(proc: subprocess.Popen, temp: str, final: str) -> None:
    """Promote the archive ``proc`` dumps to ``temp`` once it exits: in
    stop_spark(), or when this process exits."""
    global _pending_dump
    if _pending_dump is None:
        atexit.register(_stop_at_exit)
    _pending_dump = (proc, temp, final)


def _stop_at_exit() -> None:
    # Stopping the session before the JVM exits keeps the accumulator
    # server from dying mid-read with a traceback.
    if _pending_dump is not None and _pending_dump[0].poll() is None:
        stop_spark()
    _promote_dump()


def _wait_for_exit(proc: subprocess.Popen) -> None:
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=_JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _promote_dump() -> None:
    """Wait for the dumping JVM to exit; if it exited cleanly with a
    complete archive, rename that into place and delete every other file
    in the cache (stale temp files, archives with other keys)."""
    global _pending_dump
    if _pending_dump is None:
        return
    proc, temp, final = _pending_dump
    _pending_dump = None
    if proc.poll() is None:
        _wait_for_exit(proc)
    try:
        if proc.returncode != 0 or not archive_complete(temp):
            os.remove(temp)
            return
        os.replace(temp, final)
        for entry in os.scandir(os.path.dirname(final)):
            if entry.path != final and entry.is_file(follow_symlinks=False):
                os.remove(entry.path)
    except OSError:
        pass
