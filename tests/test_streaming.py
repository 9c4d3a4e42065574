"""Streaming surface tests: windows (batch-unified semantics), the
inspector tap, and the stateful dedup operator run as a real stream."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F

from conduit_spark.sources.tables import load_table
from conduit_spark.streaming import (
    StreamInspector,
    running_dedup_state,
    session_aggregate,
    tumbling_aggregate,
)


def test_tumbling_matches_batch_oracle(spark, sf_dir, duck):
    ev = load_table(spark, sf_dir, "events")
    out = tumbling_aggregate(
        ev,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    ).select(
        F.col("win.start").alias("win_start"),
        "event_type",
        "n",
    )
    exp = duck.execute(
        """SELECT date_trunc('hour', ts) AS win_start, event_type,
                  count(*) AS n
           FROM events GROUP BY 1, 2"""
    ).fetchall()
    got = sorted((r.win_start, r.event_type, r.n) for r in out.collect())
    assert got == sorted([(a.replace(tzinfo=None), b, c) for a, b, c in exp])


def test_session_windows_merge(spark):
    rows = [
        ("u1", "2024-01-01 00:00:00"),
        ("u1", "2024-01-01 00:03:00"),   # same session (gap 5m)
        ("u1", "2024-01-01 01:00:00"),   # new session
        ("u2", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user", "ts_s"]).select(
        "user", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = session_aggregate(
        df, "ts", "5 minutes", keys=["user"], aggs=[F.count(F.lit(1)).alias("n")]
    )
    got = sorted((r.user, r.n) for r in out.collect())
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_inspector_batch_tap(spark, sf_dir):
    from conduit_spark import envelope as env

    ev = load_table(spark, sf_dir, "events").limit(50)
    e = env.from_table(ev, key_cols=["event_id"])
    insp = StreamInspector(buffer_size=5, sample_per_batch=3)
    insp.tap_batch(e)
    recs = insp.records()
    assert 1 <= len(recs) <= 5
    assert "payload_after_json" in recs[0]


def test_inspector_bounded_drop_oldest(spark):
    insp = StreamInspector(buffer_size=3, sample_per_batch=10)
    df = spark.range(10).select(F.col("id").alias("v"))
    insp.tap_batch(df)
    recs = insp.records()
    assert len(recs) == 3  # drop-on-full, oldest evicted


def test_stateful_dedup_across_batches(spark, tmp_path):
    """Run a real two-batch stream; duplicates in batch 2 must be
    suppressed by checkpointed state."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch1.json").write_text(
        "\n".join(json.dumps({"k": k, "p": f"v{k}"}) for k in ["a", "b", "a"])
    )
    schema = "k string, p string"
    stream = (
        spark.readStream.schema(schema).json(str(src))
        .select(
            F.col("k").alias("key_json"),
            F.col("p").alias("payload_after_json"),
        )
    )
    deduped = running_dedup_state(stream)
    results = []

    def sink(batch_df, batch_id):
        results.extend(batch_df.collect())

    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    assert sorted(r.dedup_key for r in results) == ["a", "b"]
    dropped = {r.dedup_key: r.n_duplicates_dropped for r in results}
    assert dropped["a"] == 1 and dropped["b"] == 0  # one dup of 'a' in batch 1
    payloads = {r.dedup_key: r.first_payload for r in results}
    assert payloads == {"a": "va", "b": "vb"}  # first occurrence wins

    # second run: same keys again → all suppressed by state
    (src / "batch2.json").write_text(json.dumps({"k": "a", "p": "v-again"}))
    results.clear()
    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    assert results == []  # 'a' already emitted in the stream's lifetime


def test_events_replay_stream_equals_batch(spark, sf_dir, tmp_path):
    """Batch/stream unification: the same tumbling aggregation over the
    events table must match exactly when the table is replayed as a
    parquet file stream."""
    from conduit_spark.streaming.replay import events_stream

    stream = events_stream(spark, sf_dir)
    agg = tumbling_aggregate(
        stream,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
        watermark="1 minute",
    ).select(F.col("win.start").alias("w"), "event_type", "n")
    collected = []
    q = (
        agg.writeStream.foreachBatch(lambda df, _: collected.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = tumbling_aggregate(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    ).select(F.col("win.start").alias("w"), "event_type", "n")
    assert sorted(map(tuple, collected)) == sorted(map(tuple, batch.collect()))


def test_wire_format_roundtrip(spark):
    from conduit_spark.schema_registry import frame_wire_format, unframe_wire_format

    df = spark.createDataFrame([("payload-bytes",)], ["v"]).select(
        frame_wire_format(F.col("v"), 1234).alias("framed")
    )
    sid, payload = unframe_wire_format("framed")
    row = df.select(sid.alias("sid"), payload.cast("string").alias("p")).collect()[0]
    assert row.sid == 1234
    assert row.p == "payload-bytes"


def test_sliding_windows(spark, sf_dir, duck):
    from conduit_spark.streaming import sliding_aggregate

    ev = load_table(spark, sf_dir, "events")
    out = sliding_aggregate(
        ev, "ts", "2 hours", "1 hour", aggs=[F.count(F.lit(1)).alias("n")]
    ).select(F.col("win.start").alias("w"), "n")
    got = {(r.w, r.n) for r in out.collect()}
    exp = duck.execute(
        """
        WITH h AS (SELECT date_trunc('hour', ts) AS hb FROM events)
        SELECT w, count(*) AS n FROM (
            SELECT hb AS w FROM h
            UNION ALL
            SELECT hb - INTERVAL 1 HOUR AS w FROM h)
        GROUP BY w"""
    ).fetchall()
    assert got == {(a.replace(tzinfo=None), b) for a, b in exp}


def test_inspector_streaming_attach(spark, sf_dir, tmp_path):
    from conduit_spark.streaming import StreamInspector
    from conduit_spark.streaming.replay import events_stream

    insp = StreamInspector(buffer_size=8, sample_per_batch=5)
    q = insp.attach(events_stream(spark, sf_dir), str(tmp_path / "ck"))
    q.awaitTermination()
    recs = insp.records()
    assert 1 <= len(recs) <= 8
    assert "event_type" in recs[0]


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event older than the watermark arriving in
    a later micro-batch is DROPPED from the windowed aggregate (append
    mode emits only finalized windows). The reference never needed this
    policy (it acks by position); in Spark it is the state-bounding
    contract, so pin it."""
    import json as _json

    import pyspark.sql.functions as F

    from conduit_spark.streaming.windows import tumbling_aggregate

    src = tmp_path / "stream"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, k string"

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run_once():
        stream = (
            spark.readStream.format("json").schema(schema).load(str(src))
        )
        agg = tumbling_aggregate(
            stream, "ts", "1 minute",
            keys=["k"],
            aggs=[F.count(F.lit(1)).alias("n")],
            watermark="30 seconds",
        ).select(F.col("win.start").alias("ws"), "k", "n")
        (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # batch 1: two events in minute 0, watermark advances to 10:05-0:30
    write_batch("b1.json", [
        {"ts": "2024-01-01 10:00:10", "k": "a"},
        {"ts": "2024-01-01 10:00:20", "k": "a"},
    ])
    run_once()
    # batch 2: advance event time far ahead so the 10:00 window
    # finalizes, plus a VERY LATE event for 10:00 that must be dropped
    write_batch("b2.json", [
        {"ts": "2024-01-01 10:10:00", "k": "a"},
        {"ts": "2024-01-01 10:00:30", "k": "a"},  # late but WITHIN watermark (still 09:59:50) — counted
    ])
    run_once()
    # batch 3: another late event for 10:00 now clearly beyond the
    # watermark (10:10:00 - 30s = 10:09:30 > 10:01)
    write_batch("b3.json", [
        {"ts": "2024-01-01 10:00:40", "k": "a"},  # dropped
        {"ts": "2024-01-01 10:20:00", "k": "a"},  # finalizes 10:10 window
    ])
    run_once()

    rows = {
        (r.ws.strftime("%H:%M"), r.k): r.n
        for r in spark.read.parquet(out).collect()
    }
    # the 10:00 window finalized with the batch-2 late-but-within-
    # watermark event counted (3), NOT the batch-3 beyond-watermark one
    assert rows[("10:00", "a")] == 3
    assert rows[("10:10", "a")] == 1


def test_stateful_dedup_ttl_evicts_and_reemits(spark, tmp_path):
    """With a TTL, a key silent longer than the TTL is evicted (state
    stays bounded) and a later sighting re-emits it.

    Runs ONE continuous query (processing-time trigger): Spark 4.1's
    availableNow + ProcessingTimeTimeout combination hangs in the
    state-cleanup batch, so per-run restarts can't exercise timers.
    """
    src = tmp_path / "in"
    src.mkdir()
    schema = "k string, p string"
    stream = (
        spark.readStream.schema(schema).json(str(src))
        .select(
            F.col("k").alias("key_json"),
            F.col("p").alias("payload_after_json"),
        )
    )
    deduped = running_dedup_state(stream, ttl_ms=800)
    seen = []

    def sink(batch_df, _id):
        rows = batch_df.collect()
        if rows:
            seen.append(sorted(r.dedup_key for r in rows))

    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="400 milliseconds")
        .outputMode("append")
        .start()
    )
    try:
        def wait_for(pred, deadline=30.0):
            t0 = time.time()
            while time.time() - t0 < deadline:
                if pred():
                    return True
                time.sleep(0.2)
            return False

        (src / "b1.json").write_text(json.dumps({"k": "a", "p": "v1"}))
        assert wait_for(lambda: any("a" in ks for ks in seen))

        time.sleep(2.0)  # key 'a' goes silent for > ttl
        # a batch with another key fires a's expired timer -> eviction
        (src / "b2.json").write_text(json.dumps({"k": "b", "p": "v2"}))
        assert wait_for(lambda: any("b" in ks for ks in seen))

        time.sleep(1.0)  # let the eviction batch run
        # a's marker is gone -> next sighting re-emits, not suppressed
        (src / "b3.json").write_text(json.dumps({"k": "a", "p": "v3"}))
        assert wait_for(lambda: sum("a" in ks for ks in seen) >= 2)
    finally:
        q.stop()


def test_incremental_rollup_merges_late_window(spark, tmp_path):
    """Continuous-aggregate analog: batch 2 updates an existing window
    in place and adds a new one; the rollup table ends equal to a full
    recompute, and only touched window partitions are rewritten."""
    import os

    from conduit_spark.streaming import rollup as R

    src = tmp_path / "in"
    src.mkdir()
    target = str(tmp_path / "rollup")
    ck = str(tmp_path / "ckpt")
    schema = "ts timestamp, k string, v double"

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    def run():
        q = R.start_incremental_rollup(
            stream(),
            ts_col="ts",
            window="1 hour",
            keys=["k"],
            aggs=[
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("total"),
            ],
            target_path=target,
            checkpoint=ck,
            watermark="2 hours",
        )
        q.awaitTermination()

    rows1 = [
        {"ts": "2024-01-01 10:05:00", "k": "a", "v": 1.0},
        {"ts": "2024-01-01 10:45:00", "k": "a", "v": 2.0},
        {"ts": "2024-01-01 11:05:00", "k": "b", "v": 5.0},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    run()
    got1 = {
        (r["win_start_us"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(target).collect()
    }
    h10 = 1704103200000000  # 2024-01-01 10:00 UTC in epoch micros
    h11 = h10 + 3_600_000_000
    h12 = h11 + 3_600_000_000
    assert got1 == {(h10, "a"): (2, 3.0), (h11, "b"): (1, 5.0)}

    # batch 2: late row into hour-10 (within watermark) + new hour-12
    rows2 = [
        {"ts": "2024-01-01 10:55:00", "k": "a", "v": 4.0},
        {"ts": "2024-01-01 12:01:00", "k": "c", "v": 7.0},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    mtime_h11 = max(
        os.path.getmtime(os.path.join(target, f"win_start_us={h11}", f))
        for f in os.listdir(os.path.join(target, f"win_start_us={h11}"))
    )
    run()
    got2 = {
        (r["win_start_us"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(target).collect()
    }
    assert got2 == {
        (h10, "a"): (3, 7.0),  # updated in place
        (h11, "b"): (1, 5.0),  # untouched
        (h12, "c"): (1, 7.0),  # new window
    }
    # the untouched window partition was NOT rewritten
    mtime_h11_after = max(
        os.path.getmtime(os.path.join(target, f"win_start_us={h11}", f))
        for f in os.listdir(os.path.join(target, f"win_start_us={h11}"))
    )
    assert mtime_h11_after == mtime_h11


def test_rollup_merge_is_idempotent(spark, tmp_path):
    """Re-merging the same batch (a retry) converges to the same table."""
    from conduit_spark.streaming import rollup as R

    target = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1000, "a", 2, 3.0), (2000, "b", 1, 5.0)],
        f"{R.WIN_COL} long, k string, n long, total double",
    )
    for _ in range(2):
        R.merge_rollup_batch(spark, batch, target, ["k"])
    got = sorted(
        (r[R.WIN_COL], r["k"], r["n"], r["total"])
        for r in spark.read.parquet(target).collect()
    )
    assert got == [(1000, "a", 2, 3.0), (2000, "b", 1, 5.0)]


def test_rollup_merge_caps_changed_window_collect(spark, tmp_path, monkeypatch):
    """A pathological batch touching more distinct windows than
    MAX_WINDOWS_PER_BATCH (a watermark-less backfill) raises a clear
    sizing error instead of collecting an unbounded window list to the
    driver (VERDICT r7 minor #4). Watermark-bounded batches under the
    cap are unaffected."""
    import pytest

    from conduit_spark.streaming import rollup as R

    monkeypatch.setattr(R, "MAX_WINDOWS_PER_BATCH", 8)
    target = str(tmp_path / "t")
    wide = spark.range(9).select(
        (F.col("id") * 1000).alias(R.WIN_COL),
        F.lit("k1").alias("k"),
        F.lit(1).alias("n"),
    )
    with pytest.raises(ValueError, match="distinct windows"):
        R.merge_rollup_batch(spark, wide, target, ["k"])
    ok = wide.filter(F.col(R.WIN_COL) < 8000)  # 8 windows: at the cap
    R.merge_rollup_batch(spark, ok, target, ["k"])
    assert spark.read.parquet(target).count() == 8


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (purchase ⋈ clicks by
    the same user in the prior hour) matches the identical batch join
    — Spark's unified semantics, pinned end-to-end."""
    from conduit_spark.streaming.replay import events_stream
    from conduit_spark.streaming.windows import stream_interval_join

    def purchases(df):
        return df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )

    def clicks(df):
        return df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )

    def run_join(left, right):
        return stream_interval_join(
            left,
            right,
            on=["user_id"],
            left_ts="purchase_ts",
            right_ts="click_ts",
            lookback="1 HOUR",
        ).select("purchase_id", "click_id")

    joined = run_join(
        purchases(events_stream(spark, sf_dir)),
        clicks(events_stream(spark, sf_dir)),
    )
    collected = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, _: collected.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # two independent scans so the batch self-join is unambiguous
    batch = run_join(
        purchases(load_table(spark, sf_dir, "events")),
        clicks(load_table(spark, sf_dir, "events")),
    )
    assert len(collected) > 0
    assert sorted(map(tuple, collected)) == sorted(map(tuple, batch.collect()))


def test_watermark_dedup_suppresses_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark route: duplicates of (k) inside
    the watermark horizon are suppressed; the batch form of the same
    call equals plain dropDuplicates (the semantics oracle)."""
    from conduit_spark.streaming.windows import watermark_dedup

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"k": "a", "ts": "2024-01-01 10:00:00", "p": "v1"},
        {"k": "a", "ts": "2024-01-01 10:00:05", "p": "v1-redelivered"},
        {"k": "b", "ts": "2024-01-01 10:00:10", "p": "v2"},
        {"k": "b", "ts": "2024-01-01 10:00:11", "p": "v2-redelivered"},
        {"k": "c", "ts": "2024-01-01 10:09:00", "p": "v3"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "k string, ts timestamp, p string"
    stream = spark.readStream.schema(schema).json(str(src))
    out = watermark_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    results = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, _id: results.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    assert sorted(r.k for r in results) == ["a", "b", "c"]
    # first arrival wins; the redelivered payloads never surface
    assert {r.k: r.p for r in results} == {"a": "v1", "b": "v2", "c": "v3"}

    # batch degradation = plain dropDuplicates over the whole input
    batch = spark.createDataFrame(
        [(r["k"], r["p"]) for r in rows], "k string, p string"
    )
    got = watermark_dedup(batch, ["k"]).select("k").distinct().count()
    assert got == 3
