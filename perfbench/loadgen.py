"""Open-loop load generator for stream_kafka, run as its own process.

    python3 perfbench/loadgen.py --seed N --rate 2000 --interval-ms 50

Hosts a ``MiniKafkaBroker`` and one producer connection. Protocol on
stdin/stdout, one JSON object or word per line:

- prints ``{"bootstrap": "host:port", "topic": ...}`` once serving;
- ``go``: start producing. Every ``interval_ms`` a tick is due; each
  tick sends ``rate * interval`` records spread over the partitions.
  A record's value is ``{"id", "created_ns", "v"}`` where
  ``created_ns`` is the tick's due time (so a stall delays the stamp's
  consumers, not the stamp) and ``v`` comes from the seed;
- ``stop``: stop producing, print ``{"produced", "late_ms_max", ...}``;
- ``exit`` (or end of input): close the broker and exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

TOPIC = "events"


def _value_stream(seed: int):
    rng = random.Random(seed)
    while True:
        yield rng.randrange(1_000_000)


def record_values(seed: int, n: int) -> list[int]:
    """The ``v`` field of records 0..n-1 for ``seed``."""
    vals = _value_stream(seed)
    return [next(vals) for _ in range(n)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=2000.0)
    ap.add_argument("--interval-ms", type=float, default=50.0)
    ap.add_argument("--partitions", type=int, default=4)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from conduit_spark.functions.minikafka import MiniKafkaBroker, MiniKafkaClient

    values = _value_stream(args.seed)
    per_tick = int(round(args.rate * args.interval_ms / 1000.0))
    interval_ns = int(args.interval_ms * 1e6)
    stop = threading.Event()
    stats = {"produced": 0, "ticks": 0, "late_ns": []}

    def produce(client) -> None:
        due = time.time_ns()
        next_id = 0
        while not stop.is_set():
            now = time.time_ns()
            if now < due:
                time.sleep((due - now) / 1e9)
                continue
            stats["late_ns"].append(now - due)
            parts = [[] for _ in range(args.partitions)]
            for k in range(per_tick):
                i = next_id + k
                value = json.dumps(
                    {"id": i, "created_ns": due, "v": next(values)}
                ).encode()
                parts[i % args.partitions].append(
                    {"key": None, "value": value, "timestamp": due // 1_000_000}
                )
            for p, recs in enumerate(parts):
                if recs:
                    client.produce(TOPIC, p, recs)
            next_id += per_tick
            stats["produced"] = next_id
            stats["ticks"] += 1
            due += interval_ns

    with MiniKafkaBroker(default_partitions=args.partitions) as broker:
        broker.create_topic(TOPIC, args.partitions)
        print(json.dumps({"bootstrap": broker.bootstrap, "topic": TOPIC}), flush=True)
        worker = None
        with MiniKafkaClient(broker.bootstrap, client_id="perfbench-loadgen") as client:
            for line in sys.stdin:
                cmd = line.strip()
                if cmd == "go" and worker is None:
                    worker = threading.Thread(target=produce, args=(client,))
                    worker.start()
                elif cmd == "stop":
                    stop.set()
                    if worker is not None:
                        worker.join()
                    late = sorted(stats["late_ns"]) or [0]
                    print(
                        json.dumps(
                            {
                                "produced": stats["produced"],
                                "ticks": stats["ticks"],
                                "late_ms_max": late[-1] / 1e6,
                                "late_ms_p99": late[int(0.99 * (len(late) - 1))] / 1e6,
                                "send_interval_ms": args.interval_ms,
                            }
                        ),
                        flush=True,
                    )
                elif cmd == "exit":
                    break
            stop.set()
            if worker is not None:
                worker.join()
    return 0


if __name__ == "__main__":
    sys.exit(main())
