"""Chaos-test child for the custom-stateful API: stream JSON files
through ``running_dedup_state`` (applyInPandasWithState), one file per
micro-batch, writing each batch's EMITTED dedup rows to
``out/batch_id=N`` and sleeping after each commit so the parent can
SIGKILL mid-stream. The parent asserts the reference's DBZ-2
invariant-6 analog: after restart, state recovers from the
checkpointed store — keys emitted before the kill never re-emit, keys
never seen still emit, each key exactly once overall."""

from __future__ import annotations

import sys
import time


def main() -> None:
    src, out, ckpt, sleep_s = sys.argv[1:5]
    import pyspark.sql.functions as F

    from conduit_spark import get_spark
    from conduit_spark.streaming.stateful import running_dedup_state

    spark = get_spark("chaos-stateful-child", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")

    stream = (
        spark.readStream.schema("k string, p string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .select(
            F.col("k").alias("key_json"),
            F.col("p").alias("payload_after_json"),
        )
    )
    deduped = running_dedup_state(stream)

    def pb(batch_df, bid: int) -> None:
        batch_df.select("dedup_key", "first_payload").write.mode(
            "overwrite"
        ).json(f"{out}/batch_id={bid}")
        time.sleep(float(sleep_s))

    q = (
        deduped.writeStream.foreachBatch(pb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


if __name__ == "__main__":
    main()
