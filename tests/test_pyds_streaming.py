"""Structured-Streaming wire sources (Python DataSource API).

End-to-end: readStream from the in-process broker / object store with
availableNow triggers, checkpoint-resume picking up exactly the new
data, and the registry dispatch producing streaming envelopes.
"""

from __future__ import annotations

import pytest

from conduit_spark.functions.minikafka import (
    MiniKafkaBroker,
    MiniKafkaClient,
    partition_for_key,
)
from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server
from conduit_spark.sources import pyds


@pytest.fixture()
def broker():
    with MiniKafkaBroker(default_partitions=2) as b:
        yield b


@pytest.fixture()
def s3():
    with MiniS3Server() as srv:
        c = MiniS3Client(srv.endpoint)
        c.create_bucket("bkt")
        yield srv, c


def _run_available_now(df, out: str, ck: str) -> None:
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_kafka_wire_stream_reads_and_resumes(spark, broker, tmp_path):
    pyds.register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(20):
            k = f"u{i}".encode()
            c.produce(
                "t",
                partition_for_key(k, None, 2),
                [{"key": k, "value": f"v{i}".encode(), "timestamp": 1}],
            )
    df = (
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topic", "t")
        .load()
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(df, out, ck)
    got = spark.read.parquet(out)
    assert sorted(bytes(r.value).decode() for r in got.collect()) == sorted(
        f"v{i}" for i in range(20)
    )
    # offsets advance through the checkpoint: only the 5 new records
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(20, 25):
            c.produce(
                "t", 0, [{"key": None, "value": f"v{i}".encode(), "timestamp": 1}]
            )
    _run_available_now(
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topic", "t")
        .load(),
        out,
        ck,
    )
    assert spark.read.parquet(out).count() == 25


def test_s3_wire_stream_cdc_cycles(spark, s3, tmp_path):
    pyds.register(spark)
    srv, c = s3
    for i in range(7):
        c.put_object("bkt", f"in/k{i}", f"data{i}".encode())

    def stream():
        return (
            spark.readStream.format("conduit-s3-wire")
            .option("aws.url", srv.endpoint)
            .option("aws.bucket", "bkt")
            .option("prefix", "in/")
            .load()
        )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(stream(), out, ck)
    assert spark.read.parquet(out).count() == 7
    # new object + overwrite → exactly two new rows on resume
    c.put_object("bkt", "in/k7", b"data7")
    c.put_object("bkt", "in/k2", b"data2-upd")
    _run_available_now(stream(), out, ck)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 9
    by_key: dict[str, list[str]] = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(bytes(r.value).decode())
    assert sorted(by_key["in/k2"]) == ["data2", "data2-upd"]
    assert by_key["in/k7"] == ["data7"]


def test_registry_streaming_s3_wire_envelopes(spark, s3, tmp_path):
    from conduit_spark.pipeline import registry

    srv, c = s3
    c.put_object("bkt", "rt/a", b"payload-a")
    env = registry.build_source(
        spark,
        "builtin:s3",
        {
            "transport": "wire",
            "aws.url": srv.endpoint,
            "aws.bucket": "bkt",
            "prefix": "rt/",
        },
        "s3s",
        streaming=True,
    )
    assert env.isStreaming
    out, ck = str(tmp_path / "eout"), str(tmp_path / "eck")
    _run_available_now(env, out, ck)
    [row] = spark.read.parquet(out).collect()
    assert bytes(row.payload_after_raw) == b"payload-a"
    assert row.operation == "create"
    assert bytes(row.position).decode() == "bkt/rt/a"


def test_streaming_pipeline_kafka_wire_to_kafka_wire(spark, broker, tmp_path):
    """Full streaming pipeline over the wire transport on BOTH ends:
    readStream from topic-in (Python DataSource), json.decode + filter
    (reference semantics: filter DROPS the record when its condition
    holds — here every odd n),
    foreachBatch delivery producing to topic-out — offsets in the
    Structured Streaming checkpoint, resume picks up only new records."""
    from conduit_spark.functions.minikafka import EARLIEST, LATEST
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    broker.create_topic("in", partitions=2)
    broker.create_topic("out", partitions=2)
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(30):
            c.produce(
                "in",
                i % 2,
                [{"key": None, "value": b'{"n": %d}' % i, "timestamp": 1}],
            )
    cfg = parse_yaml(
        f"""
version: "2.2"
pipelines:
  - id: wire-stream
    connectors:
      - id: src
        type: source
        plugin: builtin:kafka
        settings:
          servers: {broker.bootstrap}
          topic: in
          transport: wire
      - id: dst
        type: destination
        plugin: builtin:kafka
        settings:
          servers: {broker.bootstrap}
          topic: out
          transport: wire
    processors:
      - id: decode
        plugin: json.decode
        settings: {{field: .Payload.After}}
      - id: drop-odd
        plugin: filter
        condition: '{{{{ ne (mod .Payload.After.n 2) 0 }}}}'
"""
    )[0]
    ck = str(tmp_path / "ck")
    Pipeline(spark, cfg).run_streaming(ck, trigger_once=True)

    def drain_out():
        import json as _json

        vals = []
        with MiniKafkaClient(broker.bootstrap) as c:
            for p in (0, 1):
                off = c.list_offsets("out", p, EARLIEST)
                hi = c.list_offsets("out", p, LATEST)
                while off < hi:
                    recs, _ = c.fetch("out", p, off)
                    if not recs:
                        break
                    vals += [_json.loads(r["value"]) for r in recs]
                    off = recs[-1]["offset"] + 1
        return sorted(v["n"] for v in vals)

    assert drain_out() == [i for i in range(30) if i % 2 == 0]

    # resume: five more records, only the even new ones are appended
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(30, 35):
            c.produce(
                "in", 0, [{"key": None, "value": b'{"n": %d}' % i, "timestamp": 1}]
            )
    Pipeline(spark, cfg).run_streaming(ck, trigger_once=True)
    assert drain_out() == [i for i in range(35) if i % 2 == 0]


def test_kafka_wire_stream_multi_topic(spark, broker, tmp_path):
    """`topics: a,b` (the reference connector's plural form) streams
    both topics with topic-qualified offsets in the checkpoint."""
    pyds.register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(6):
            c.produce("ta", 0, [{"key": None, "value": b"a%d" % i, "timestamp": 1}])
            c.produce("tb", 1, [{"key": None, "value": b"b%d" % i, "timestamp": 1}])
    df = (
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topics", "ta, tb")
        .load()
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(df, out, ck)
    rows = spark.read.parquet(out).collect()
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r.topic, []).append(bytes(r.value).decode())
    assert sorted(by_topic) == ["ta", "tb"]
    assert sorted(by_topic["ta"]) == [f"a{i}" for i in range(6)]
    assert sorted(by_topic["tb"]) == [f"b{i}" for i in range(6)]
    # resume picks up only new records on either topic
    with MiniKafkaClient(broker.bootstrap) as c:
        c.produce("tb", 0, [{"key": None, "value": b"b99", "timestamp": 1}])
    _run_available_now(
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topics", "ta, tb")
        .load(),
        out,
        ck,
    )
    assert spark.read.parquet(out).count() == 13


def test_kafka_wire_starting_offsets_latest(spark, broker, tmp_path):
    """startingOffsets=latest skips the backlog on first start; records
    produced after attach flow normally (JVM source contract)."""
    pyds.register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for i in range(5):
            c.produce("lt", 0, [{"key": None, "value": b"old%d" % i, "timestamp": 1}])

    def stream():
        return (
            spark.readStream.format("conduit-kafka-wire")
            .option("servers", broker.bootstrap)
            .option("topic", "lt")
            .option("startingOffsets", "latest")
            .load()
        )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(stream(), out, ck)
    assert spark.read.parquet(out).count() == 0  # backlog skipped
    with MiniKafkaClient(broker.bootstrap) as c:
        c.produce("lt", 0, [{"key": None, "value": b"new", "timestamp": 1}])
    _run_available_now(stream(), out, ck)
    [row] = spark.read.parquet(out).collect()
    assert bytes(row.value) == b"new"


def test_s3_wire_starting_position_latest(spark, s3, tmp_path):
    pyds.register(spark)
    srv, c = s3
    for i in range(4):
        c.put_object("bkt", f"sp/old{i}", b"x")

    def stream():
        return (
            spark.readStream.format("conduit-s3-wire")
            .option("aws.url", srv.endpoint)
            .option("aws.bucket", "bkt")
            .option("prefix", "sp/")
            .option("startingPosition", "latest")
            .load()
        )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(stream(), out, ck)
    assert spark.read.parquet(out).count() == 0  # backlog skipped
    c.put_object("bkt", "sp/new", b"fresh")
    _run_available_now(stream(), out, ck)
    [row] = spark.read.parquet(out).collect()
    assert row.key == "sp/new"


def _kafka_stream(spark, broker, topic: str):
    pyds.register(spark)
    return (
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topic", topic)
        .load()
    )


def test_kafka_wire_backlog_over_several_fetches_exactly_once(spark, broker, tmp_path):
    """A backlog larger than one Fetch response per partition arrives
    complete and exactly once under availableNow: the driver-side
    prefetch loops Fetch until each partition's log end."""
    import zlib

    from pyspark.sql import functions as F

    broker.create_topic("big", partitions=2)
    n, size = 18, 1 << 20  # 18 MiB a partition; one Fetch carries 16 MiB
    want = {}
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            for i in range(n):
                v = bytes([p * n + i]) * size
                c.produce("big", p, [{"key": None, "value": v, "timestamp": 1}])
                want[(p, i)] = zlib.crc32(v)
        for p in (0, 1):
            first, _ = c.fetch("big", p, 0)
            assert 0 < len(first) < n  # the backlog needs several Fetches
    df = _kafka_stream(spark, broker, "big").select(
        "partition", "offset", F.crc32("value").alias("crc")
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(df, out, ck)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2 * n
    assert {(r.partition, r.offset): r.crc for r in rows} == want


def test_kafka_wire_prefetch_stops_at_its_cap(broker, monkeypatch):
    """A backlog above the prefetch cap arrives over several reads,
    complete and exactly once: each ``read(start)`` stops once it holds
    the cap and returns the offsets it reached, and its records are
    exactly those between ``start`` and that end."""
    broker.create_topic("cap", partitions=2)
    n, size = 17, 1 << 20  # one Fetch carries 16 of a partition's 17 MiB
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            for i in range(n):
                v = bytes([i]) * size
                c.produce("cap", p, [{"key": None, "value": v, "timestamp": 1}])
    monkeypatch.setattr(pyds, "_PREFETCH_MAX_BYTES", 8 * size)
    reader = pyds.KafkaWireStreamReader({"servers": broker.bootstrap, "topic": "cap"})
    start = reader.initialOffset()
    seen: list[tuple[int, int]] = []
    reads = 0
    while True:
        batches, end = reader.read(start)
        batches = list(batches)
        if end == start:
            assert batches == []
            break
        reads += 1
        assert sum(b.nbytes for b in batches) < 8 * size + 17 * size
        got = [
            (p, o)
            for b in batches
            for p, o in zip(
                b.column("partition").to_pylist(), b.column("offset").to_pylist()
            )
        ]
        assert sorted(got) == [
            (p, o)
            for p in (0, 1)
            for o in range(start[f"cap:{p}"], end[f"cap:{p}"])
        ]
        seen += got
        start = end
    assert reads >= 3
    assert sorted(seen) == [(p, o) for p in (0, 1) for o in range(n)]


def test_kafka_wire_idle_polls_plan_no_batch(spark, broker, tmp_path):
    """An idle poll returns its start offset with no records: Spark
    raises no SIMPLE_STREAM_READER_OFFSET_DID_NOT_ADVANCE and plans no
    batch, and the offset document keeps its key order."""
    import json
    import time

    broker.create_topic("idle", partitions=2)
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            c.produce("idle", p, [{"key": None, "value": b"x", "timestamp": 1}])
    reader = pyds.KafkaWireStreamReader(
        {"servers": broker.bootstrap, "topic": "idle"}
    )
    start = reader.initialOffset()
    rows, end = reader.read(start)
    assert sum(b.num_rows for b in rows) == 2
    rows, again = reader.read(end)
    assert list(rows) == [] and json.dumps(again) == json.dumps(end)

    q = (
        _kafka_stream(spark, broker, "idle")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        batches = q.lastProgress["batchId"]
        time.sleep(2)  # about 20 idle polls
        assert q.exception() is None and q.isActive
        assert q.lastProgress["batchId"] == batches
    finally:
        q.stop()


def test_kafka_wire_restart_replays_uncommitted_batch_once(spark, broker, tmp_path):
    """A batch whose offsets were logged but never committed replays
    on restart through ``readBetweenOffsets`` (a fresh source runner
    holds no prefetched data), exactly once and with exactly the
    logged range; what arrived since forms the next batch."""
    from pyspark.errors import StreamingQueryException

    broker.create_topic("rp", partitions=2)

    def produce(vals):
        with MiniKafkaClient(broker.bootstrap) as c:
            for i, v in enumerate(vals):
                c.produce("rp", i % 2, [{"key": None, "value": v, "timestamp": 1}])

    wave1 = [b"a%d" % i for i in range(6)]
    wave2 = [b"b%d" % i for i in range(3)]
    produce(wave1)
    ck = str(tmp_path / "ck")

    def fail(df, batch_id):
        raise RuntimeError("crash before the commit")

    q = (
        _kafka_stream(spark, broker, "rp").writeStream.foreachBatch(fail)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    produce(wave2)
    seen: dict[int, list[bytes]] = {}

    def record(df, batch_id):
        seen.setdefault(batch_id, []).extend(bytes(r.value) for r in df.collect())

    # a source without Trigger.AvailableNow support runs one batch a
    # start: the first restart replays batch 0, the second reads on
    for _ in range(2):
        q = (
            _kafka_stream(spark, broker, "rp").writeStream.foreachBatch(record)
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
    assert sorted(seen) == [0, 1]
    assert sorted(seen[0]) == sorted(wave1)
    assert sorted(seen[1]) == sorted(wave2)


def test_kafka_wire_steady_micro_batch_runs_one_task_per_job(spark, broker, tmp_path):
    """A steady-state micro-batch reads its prefetched rows from the
    JVM's block manager: every job of the batch runs one task, however
    many topic-partitions the batch spans (a partitioned read would
    run one per topic-partition)."""
    import time

    broker.create_topic("st", partitions=2)
    spans: dict[int, set[int]] = {}

    def record(df, batch_id):
        spans.setdefault(batch_id, set()).update(
            r.partition for r in df.select("partition").collect()
        )

    def produce(tag: bytes):
        with MiniKafkaClient(broker.bootstrap) as c:
            for p in (0, 1):
                c.produce("st", p, [{"key": None, "value": tag, "timestamp": 1}])

    produce(b"first")
    q = (
        _kafka_stream(spark, broker, "st").writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while not any(b >= 1 and len(ps) == 2 for b, ps in spans.items()):
            assert time.monotonic() < deadline and q.exception() is None
            produce(b"more")
            q.processAllAvailable()
    finally:
        q.stop()
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(str(q.runId))
    assert jobs
    tasks = [
        st.getStageInfo(s).numTasks
        for j in jobs
        for s in st.getJobInfo(j).stageIds
    ]
    assert tasks and set(tasks) == {1}
