"""Continuous HLL and histogram sketches (streaming/sketches.py): the
streaming estimates equal the batch sketches bit for bit across a
checkpoint restart, and update mode emits only the keys a micro-batch
touched."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from conduit_spark.analytics.dedup import SHINGLE_W, word_grams
from conduit_spark.analytics.sketches import (
    hist_bin_col,
    hll_bucket_cols,
    sk_hist_quantiles,
    sk_hll_distinct,
)
from conduit_spark.functions.hashing import md5_int32
from conduit_spark.sources.tables import load_table
from conduit_spark.streaming import running_hist_quantiles, running_hll_distinct
from conduit_spark.streaming.sketches import HIST_OUT_SCHEMA, HLL_OUT_SCHEMA


def _write_batches(src, files: dict[str, list[dict]]) -> None:
    """One JSON file per micro-batch, with strictly increasing mtimes:
    the file source plans files in modification-time order."""
    src.mkdir(exist_ok=True)
    base = max([time.time(), *(p.stat().st_mtime for p in src.iterdir())])
    for i, (name, rows) in enumerate(files.items(), 1):
        path = src / name
        path.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(path, (base + i, base + i))


def _run(spark, sketch, schema: str, src, ckpt) -> list[tuple[int, dict]]:
    """Drain ``src`` one file per micro-batch in update mode; return
    every emitted ``(batch_id, row)``."""
    out = sketch(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    results = []

    def sink(batch_df, batch_id):
        results.extend((batch_id, r.asDict()) for r in batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
    return results


def _same_schema(df, ddl: str) -> bool:
    want = StructType.fromDDL(ddl)
    return [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in want
    ]


def test_running_hll_distinct_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Two halves of per-(source, bucket) partial registers, with a
    restart from the checkpoint between them: the last estimate of
    every source equals the batch sk_hll_distinct over the union. A
    third micro-batch re-sending one register of one source emits
    exactly that source's row, with its estimate unchanged."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    rel = (
        docs.filter(n >= SHINGLE_W)
        .select("source", F.explode(word_grams(SHINGLE_W)).alias("gram"))
        .select("source", md5_int32(F.col("gram")).alias("x"))
        .distinct()
    )
    halves = [
        [
            r.asDict()
            for r in hll_bucket_cols(rel.filter(F.pmod(F.col("x"), 2) == h))
            .groupBy("source", "bucket")
            .agg(F.max("rho").alias("rho"))
            .collect()
        ]
        for h in (0, 1)
    ]
    assert halves[0] and halves[1]

    schema = "source string, bucket int, rho int"
    assert _same_schema(
        running_hll_distinct(spark.createDataFrame([], schema)),
        HLL_OUT_SCHEMA,
    )
    src, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_batches(src, {"half0.json": halves[0]})
    first = _run(spark, running_hll_distinct, schema, src, ckpt)
    assert first

    touched = halves[0][0]
    _write_batches(src, {"half1.json": halves[1], "touch.json": [touched]})
    second = _run(spark, running_hll_distinct, schema, src, ckpt)
    last_bid = max(b for b, _ in second)
    touch_rows = [r for b, r in second if b == last_bid]
    final = {r["source"]: r for b, r in first + second if b < last_bid}
    assert touch_rows == [final[touched["source"]]]

    batch = {r["source"]: r for r in sk_hll_distinct(spark, sf_dir).collect()}
    assert set(final) == set(batch)
    # round the streaming double with the engine-side round the batch
    # query uses, then require equality
    rounded = {
        r["source"]: (r["n_buckets_hit"], r["est"])
        for r in spark.createDataFrame(
            [
                (s, v["n_buckets_hit"], v["est_distinct"])
                for s, v in final.items()
            ],
            "source string, n_buckets_hit long, est double",
        )
        .select("source", "n_buckets_hit", F.round("est", 6).alias("est"))
        .collect()
    }
    for s, b in batch.items():
        assert rounded[s] == (b["n_buckets_hit"], b["est_distinct"]), s


def test_running_hist_quantiles_match_batch_sketch(spark, sf_dir, tmp_path):
    """Two halves of binned events, with a restart from the checkpoint
    between them: the last p50/p90/p99 of every event type equal the
    batch sk_hist_quantiles over the union, bit for bit."""
    ev = load_table(spark, sf_dir, "events")
    halves = [
        [
            r.asDict()
            for r in hist_bin_col(ev.filter(F.pmod(F.col("event_id"), 2) == h))
            .select("event_type", "bin")
            .collect()
        ]
        for h in (0, 1)
    ]
    assert halves[0] and halves[1]

    schema = "event_type string, bin int"
    assert _same_schema(
        running_hist_quantiles(spark.createDataFrame([], schema)),
        HIST_OUT_SCHEMA,
    )
    src, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_batches(src, {"half0.json": halves[0]})
    first = _run(spark, running_hist_quantiles, schema, src, ckpt)
    assert first
    _write_batches(src, {"half1.json": halves[1]})
    second = _run(spark, running_hist_quantiles, schema, src, ckpt)
    assert second
    final = {r["event_type"]: r for _, r in first + second}

    batch = {
        r["event_type"]: r.asDict()
        for r in sk_hist_quantiles(spark, sf_dir).collect()
    }
    assert final == batch
