"""perfbench entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine in this checkout, checks its
outputs, and prints one JSON line with ``correct``, ``attempted``,
``failed`` and ``metrics`` as the last line of stdout. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones. The line
before it carries run detail (weather, warm-up, samples). See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("stream_kafka", "query_mix")


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


class Context:
    """What a workload needs: its inputs, the session, the clock
    marks for set-up and the timed window, and the result."""

    def __init__(self, args, work: str) -> None:
        from perfbench.common import Result, Weather

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.scale_factor = args.scale
        self.result = Result()
        self.weather = Weather()
        self.spark = None
        self.rest = None
        self.jvm_pid = None
        self.setup_s = None
        self.peak_rss_mb = None
        self.rss_split = None

    def scale(self, n: int) -> int:
        return max(1, int(n * self.scale_factor))

    def start_session(self) -> float:
        from perfbench.common import SparkRest, jvm_pid, spark_conf

        t = time.perf_counter()
        from conduit_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = jvm_pid(self.spark)
        if self.trace:
            self.rest = SparkRest(self.spark)
        return time.perf_counter() - t

    def setup_done(self) -> None:
        self.setup_s = _process_age_s()

    def window_done(self) -> None:
        from perfbench.common import peak_rss_mb

        self.rss_split = peak_rss_mb(self.jvm_pid)
        self.peak_rss_mb = sum(self.rss_split)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # warm-up multiplier for the smoke test; runs that are compared
    # always use the default
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and the load generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(REPO, "conduit_spark", "__init__.py")):
        print(
            f"perfbench: no conduit_spark package next to {HERE}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    declared = _declared_metrics(bool(args.trace))

    sys.path.insert(0, REPO)
    from perfbench.common import pin_engine_env

    work = os.path.join(
        REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    pin_engine_env(REPO, work)
    cwd = os.getcwd()
    os.chdir(work)  # derby.log / metastore litter lands in the run dir
    ctx = Context(args, work)
    try:
        mod = importlib.import_module(f"perfbench.{args.workload}")
        session_s = ctx.start_session()
        mod.run(ctx)
        res = ctx.result
        if res.errors and not res.metrics:
            raise RuntimeError(f"run failed its checks: {res.errors}")
        res.put("setup_s", ctx.setup_s, "s")
        res.put("peak_rss_mb", ctx.peak_rss_mb, "MB")
        if args.trace:
            # end-to-end values of the traced run, for the overhead
            for name in _declared_metrics(False):
                res.metrics[f"traced.{name}"] = res.metrics.pop(name)
            res.put("session.start_s", session_s, "s")
        res.detail.update(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=args.trace,
            weather=ctx.weather.read(),
            setup_s=ctx.setup_s,
            session_start_s=session_s,
            peak_rss_mb_jvm_python=ctx.rss_split,
        )
        if args.trace:
            # layers a workload does not pass through read 0
            for name, unit in declared.items():
                res.metrics.setdefault(name, {"value": 0.0, "unit": unit})
        got = {n: m["unit"] for n, m in res.metrics.items()}
        if got != declared:
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {got} != {declared}")
        res.emit()
        return 0
    finally:
        if ctx.spark is not None:
            _stop_jvm(ctx.spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
