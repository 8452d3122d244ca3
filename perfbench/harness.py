"""Shared harness: set-up timing, run metadata, memory, percentiles, Spark
job accounting and the result line every workload prints."""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far, in ticks, from the first line of
    /proc/stat (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """The share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (steal)."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def jvm_pid() -> int | None:
    """The Spark driver JVM is the only java child of this process."""
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM) of this process and of its Spark JVM."""
    pid = jvm_pid()
    return {
        "python": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": (_vm_hwm_kb(pid) if pid is not None else 0) / 1024.0,
    }


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its JVM."""
    t = os.times()
    total = t.user + t.system
    pid = jvm_pid()
    if pid is not None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        except OSError:
            pass
    return total


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]); the value a tail claim can cite."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def environment(spark, seed: int) -> dict:
    return {
        "seed": seed,
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def count_jobs(sc, group: str) -> dict:
    """Spark job, stage and task counts of one job group so far, read from
    the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


class JobCounter:
    """Spark job/stage/task counts per operation, read from the status
    tracker for a job group set around the operation."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.per_op: list[dict] = []
        self._n = 0

    @contextmanager
    def op(self, label: str, extra_groups: list[str]):
        """Count the jobs run in the operation's own group, plus those of
        the groups in ``extra_groups`` when it ends (a streaming query runs
        its jobs in a group named after its run id)."""
        if not self.enabled:
            yield
            return
        self._n += 1
        group = f"perfbench-{label}-{self._n}"
        self.sc.setJobGroup(group, label)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)
            counts = [count_jobs(self.sc, g) for g in [group, *extra_groups]]
            self.per_op.append({"op": label, **{k: sum(c[k] for c in counts) for k in counts[0]}})

    def metrics(self) -> dict:
        if not self.per_op:
            return {}
        return {
            "spark.jobs_per_op": (median([o["jobs"] for o in self.per_op]), "count"),
            "spark.stages_per_op": (median([o["stages"] for o in self.per_op]), "count"),
            "spark.tasks_per_op": (median([o["tasks"] for o in self.per_op]), "count"),
            "spark.tasks_failed": (sum(o["tasks_failed"] for o in self.per_op), "count"),
        }


class PassWorkload:
    """A closed loop with one caller: passes run back to back until
    ``seconds`` have passed, at least one. Subclasses provide ``run_pass``
    and ``check``."""

    label = "pass"

    def __init__(self):
        self.errors: list[str] = []
        self.cpu: list[float] = []
        # Job groups, besides its own, whose jobs count toward the current pass.
        self.job_groups: list[str] = []

    def run_pass(self, spark, tracer):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        pass

    def measure(self, spark, seconds: float, tracer, jobs) -> tuple[list[float], int, int]:
        """Returns (wall time of each successful pass, attempted, failed)."""
        samples: list[float] = []
        attempted = failed = 0
        deadline = now() + seconds
        while attempted == 0 or now() < deadline:
            attempted += 1
            self.job_groups.clear()
            with tracer.operation(f"{self.label}{attempted}"), jobs.op(self.label, self.job_groups):
                t, c = now(), cpu_s()
                try:
                    out = self.run_pass(spark, tracer)
                except Exception:  # an engine error fails this pass, not the run
                    out, errors = None, [traceback.format_exc(limit=2)]
                else:
                    samples.append(now() - t)
                    self.cpu.append(cpu_s() - c)
            if out is not None:
                errors = self.check(out)
            failed += bool(errors)
            self.errors += errors
        if not samples:
            raise RuntimeError(f"every {self.label} failed: {self.errors[:1]}")
        return samples, attempted, failed

    def meta(self) -> dict:
        return {"op_cpu_s": self.cpu}

    def close(self) -> None:
        pass


def emit(correct: bool, attempted: int, failed: int, metrics: dict, meta: dict) -> None:
    """Print the run's metadata line, then the result line (last line)."""
    print(json.dumps({"meta": meta}, default=str))
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(v), "unit": unit} for name, (v, unit) in metrics.items()
        },
    }
    print(json.dumps(result))
    sys.stdout.flush()


def now() -> float:
    return time.perf_counter()
