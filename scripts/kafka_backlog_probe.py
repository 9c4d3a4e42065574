"""Cold-backlog probe for the kafka wire stream.

A broker holds a backlog before the stream starts: 400,000 records of
200 B values over 4 partitions, produced in batches of 1,000. The
probe then runs ``readStream.format("conduit-kafka-wire")`` into a
``noop`` sink under ``availableNow`` from a fresh checkpoint, three
times in one session, and prints one JSON line: the seconds of each
run from ``start()`` to termination, their minimum, the streaming
phase durations (``durationMs``, summed over batches) of the fastest
run, and the peak resident set of the Python source runner (the
process that prefetches a micro-batch), sampled from ``/proc`` while
the runs go.

Usage: python scripts/kafka_backlog_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORDS = 400_000
PARTITIONS = 4
VALUE_BYTES = 200
PRODUCE_BATCH = 1_000
RUNS = 3


def _runner_peak_mb(stop: threading.Event, out: dict) -> None:
    """Largest VmHWM of any live Python streaming source runner."""
    me = os.getpid()
    while not stop.is_set():
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"python_streaming_source_runner" not in f.read():
                        continue
                with open(f"/proc/{pid}/status") as f:
                    kb = next(
                        int(line.split()[1]) for line in f
                        if line.startswith("VmHWM:")
                    )
            except (OSError, StopIteration):
                continue
            out["runner_peak_mb"] = max(out.get("runner_peak_mb", 0.0), kb / 1024)
        stop.wait(0.1)


def main() -> None:
    sys.path.insert(0, REPO)
    from conduit_spark import get_spark
    from conduit_spark.functions.minikafka import MiniKafkaBroker, MiniKafkaClient
    from conduit_spark.sources import pyds

    spark = get_spark("kafka-backlog-probe")
    spark.sparkContext.setLogLevel("ERROR")
    pyds.register(spark)
    with MiniKafkaBroker(default_partitions=PARTITIONS) as broker:
        broker.create_topic("backlog", partitions=PARTITIONS)
        with MiniKafkaClient(broker.bootstrap) as c:
            for b in range(RECORDS // PRODUCE_BATCH):
                recs = [
                    {"key": None, "value": (b"%08d" % (b * PRODUCE_BATCH + i)).ljust(
                        VALUE_BYTES, b"x"), "timestamp": 1}
                    for i in range(PRODUCE_BATCH)
                ]
                c.produce("backlog", b % PARTITIONS, recs)
        stats: dict = {}
        stop = threading.Event()
        sampler = threading.Thread(target=_runner_peak_mb, args=(stop, stats))
        sampler.start()
        runs, rows, phases = [], [], []
        try:
            for _ in range(RUNS):
                with tempfile.TemporaryDirectory() as ck:
                    q = (
                        spark.readStream.format("conduit-kafka-wire")
                        .option("servers", broker.bootstrap)
                        .option("topic", "backlog")
                        .load()
                        .writeStream.format("noop")
                        .option("checkpointLocation", ck)
                        .trigger(availableNow=True)
                    )
                    t0 = time.monotonic()
                    q = q.start()
                    q.awaitTermination()
                    runs.append(time.monotonic() - t0)
                    prog = q.recentProgress
                    rows.append(sum(p["numInputRows"] for p in prog))
                    phase: dict = {}
                    for p in prog:
                        for k, v in p["durationMs"].items():
                            phase[k] = phase.get(k, 0) + v
                    phases.append(phase)
        finally:
            stop.set()
            sampler.join()
    if any(n != RECORDS for n in rows):
        sys.exit(f"read {rows} rows, expected {RECORDS} a run")
    print(json.dumps({
        "records": RECORDS,
        "runs_s": [round(t, 2) for t in runs],
        "min_s": round(min(runs), 2),
        "phases_ms_of_min": phases[runs.index(min(runs))],
        "runner_peak_mb": round(stats.get("runner_peak_mb", 0.0), 1),
    }))


if __name__ == "__main__":
    main()
