"""Shared plumbing for the perfbench workloads: the engine's deployment
environment, weather, memory, statistics, the Spark REST reader used by
traced runs, and the result line.

Nothing here imports the engine; ``run.py`` pins the environment
before the first engine import so that the JVM and its Python workers
inherit it.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import sys
import time
import urllib.request
from datetime import datetime, timezone

# Heap for the single local-mode JVM. The engine's default (16g) is
# more than a 15 GiB host has; 2g holds every workload here. The heap
# starts at its full size: a heap that grows on demand grows by a
# different amount in every run, and the peak RSS with it.
DRIVER_MEM = "2g"
# -XX:-UsePerfData: no hsperfdata file in /tmp
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:-UsePerfData"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_engine_env(repo: str, work: str) -> None:
    """Deployment settings only; no engine code changes.

    - ``SPARK_GRAFT_CPUS``: local parallelism = the cores we may use.
    - ``SPARK_GRAFT_DRIVER_MEM``: a heap that fits the host.
    - ``PYTHONPATH``: the Python data-source planner is a separate
      Python process the JVM starts; ``addPyFile`` does not reach it,
      so without the repo on the path it fails with
      ``ModuleNotFoundError: conduit_spark``.
    - ``SPARK_LOCAL_DIRS`` / ``TMPDIR``: keep shuffle files, the
      package zip and temp fixtures inside this run's directory.
    """
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo + (os.pathsep + path if path else "")
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        d = os.path.join(work, sub)
        os.makedirs(d, exist_ok=True)
        os.environ[var] = d
    # cap glibc's per-thread malloc arenas, so native allocations add
    # less run-to-run variation to the JVM's resident set
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # Python workers run the driver's interpreter
    os.environ["PYSPARK_PYTHON"] = sys.executable


def spark_conf(work: str) -> dict[str, str]:
    """Extra session conf: JVM temp files and the warehouse inside the
    run's directory."""
    return {
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }


# ---- weather -------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Weather:
    """Host conditions around a run. Recorded beside the metrics and
    never used to adjust them."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()
        self.load_start = os.getloadavg()[0]

    def read(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        return {
            "steal_pct": round(100.0 * steal / total, 3),
            "load_avg_1m_start": self.load_start,
            "load_avg_1m_end": os.getloadavg()[0],
            "cpus": cpus(),
        }


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident set (MB) of the JVM and of this Python driver."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return jvm_kb / 1024.0, py_kb / 1024.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---- statistics ----------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---- Spark REST (traced runs only) ---------------------------------------


def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class SparkRest:
    """Reads jobs and stages of this application from the driver's
    REST API (``/api/v1``) once, after the timed work."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.loads(r.read())

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        jobs = self._get("/jobs")
        stages = {}
        for st in self._get("/stages"):
            # keep the latest attempt of each stage
            sid = st["stageId"]
            if sid not in stages or st["attemptId"] > stages[sid]["attemptId"]:
                stages[sid] = st
        for j in jobs:
            j["_start"] = _parse_ts(j.get("submissionTime"))
            j["_end"] = _parse_ts(j.get("completionTime"))
        return jobs, stages


def job_totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Counts and engine-side cost of a set of jobs."""
    sids = sorted({s for j in jobs for s in j.get("stageIds", []) if s in stages})
    run = [stages[s] for s in sids if stages[s].get("status") != "SKIPPED"]
    return {
        "jobs": len(jobs),
        "stages": len(run),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in run),
        "executor_cpu_ms": sum(s.get("executorCpuTime", 0) for s in run) / 1e6,
        "gc_ms": float(sum(s.get("jvmGcTime", 0) for s in run)),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in run),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in run
        ),
    }


def busy_seconds(jobs: list[dict], t0: float, t1: float) -> float:
    """Wall seconds in [t0, t1] during which at least one job ran."""
    spans = sorted(
        (max(j["_start"], t0), min(j["_end"], t1))
        for j in jobs
        if j["_start"] is not None and j["_end"] is not None
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


# ---- result --------------------------------------------------------------


class Result:
    """Collects metrics and the outcome; prints the final line."""

    def __init__(self) -> None:
        self.metrics: dict[str, dict] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def emit(self) -> None:
        if self.errors:
            self.detail["correctness_errors"] = self.errors[:50]
        print(json.dumps({"detail": self.detail}, sort_keys=True), flush=True)
        print(
            json.dumps(
                {
                    "correct": not self.errors,
                    "attempted": int(self.attempted),
                    "failed": int(self.failed),
                    "metrics": self.metrics,
                }
            ),
            flush=True,
        )


def now() -> float:
    return time.perf_counter()
