"""Kafka-wire chaos child: consume a topic through the jar-free
streaming wire source (sources/pyds.py, format conduit-kafka-wire)
with a marker-gated kill window between the sink write and Spark's
commit-log write — the kafka analog of chaos_cdc_child's
mid-position-write crash point. Per-batch output dirs are rewritten
idempotently on replay; writes.log records every delivery so the
parent can prove the replay happened.

The parent starts it from a scratch directory with no ``PYTHONPATH``,
the way a deployment starts a driver script: the child finds the
package through its own ``sys.path`` only, so the data-source planner
process the JVM starts must get the package path from ``get_spark``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    bootstrap, topic, out, ckpt, hold_path, reached_path = sys.argv[1:7]

    from conduit_spark import get_spark
    from conduit_spark.sources import pyds

    spark = get_spark("chaos-kafka-child", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    pyds.register(spark)
    os.makedirs(out, exist_ok=True)

    def gate() -> None:
        if os.path.exists(reached_path):
            return
        with open(reached_path, "w") as f:
            f.write("1")
        while os.path.exists(hold_path):
            time.sleep(0.1)

    def deliver(bdf, bid: int) -> None:
        (
            bdf.selectExpr(
                "partition",
                "offset",
                "CAST(value AS STRING) AS value",
            )
            .write.mode("overwrite")
            .json(f"{out}/b={bid}")
        )
        with open(os.path.join(out, "writes.log"), "a") as f:
            f.write(f"b={bid}\n")
        if bid == 0:
            gate()  # sink write durable, commit-log write pending

    q = (
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", bootstrap)
        .option("topic", topic)
        .load()
        .writeStream.foreachBatch(deliver)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


if __name__ == "__main__":
    main()
