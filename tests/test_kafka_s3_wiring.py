"""Option-level proofs for the kafka and s3 connector wiring.

No broker or object store exists in this sandbox, so these tests pin
everything short of the network: settings → reader/writer options,
the kafka↔envelope projections (run against kafka-shaped DataFrames),
and the s3 credential mapping onto the live Hadoop conf. This removes
the 'wiring-only, nothing proves it' caveat from the coverage table.
"""

from __future__ import annotations

import json

import pytest

from conduit_spark.pipeline.registry import (
    apply_s3_conf,
    build_source,
    envelope_from_kafka,
    kafka_reader_options,
)
from conduit_spark.sinks import kafka_records, kafka_writer_options

KAFKA_SETTINGS = {
    "servers": "broker1:9092,broker2:9092",
    "topic": "orders",
    "startingOffsets": "earliest",
    "failOnDataLoss": False,
    "kafkaOptions": {
        "kafka.security.protocol": "SASL_SSL",
        "maxOffsetsPerTrigger": 10000,
    },
}


def test_kafka_reader_options_mapping():
    opts = kafka_reader_options(KAFKA_SETTINGS)
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "orders",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "kafka.security.protocol": "SASL_SSL",
        "maxOffsetsPerTrigger": "10000",
    }


def test_kafka_writer_options_mapping():
    opts = kafka_writer_options(
        "b:9092", "out-topic", {"kafka.compression.type": "zstd"}
    )
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out-topic",
        "kafka.compression.type": "zstd",
    }


def _kafka_shaped_df(spark):
    """A DataFrame with the exact schema format('kafka').load() yields
    (the columns the projection touches)."""
    rows = [
        (b"k1", b'{"id": 1}', "orders", 0, 42),
        (None, b"rawbytes", "orders", 3, 7),
    ]
    return spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )


def test_envelope_from_kafka_projection(spark):
    env = envelope_from_kafka(_kafka_shaped_df(spark), "k-src")
    rows = {bytes(r.position).decode(): r for r in env.collect()}
    assert set(rows) == {"orders:0:42", "orders:3:7"}
    r = rows["orders:0:42"]
    assert bytes(r.key_raw) == b"k1"
    assert bytes(r.payload_after_raw) == b'{"id": 1}'
    assert r.operation == "create" and r.is_structured is False
    assert r.metadata["kafka.topic"] == "orders"
    assert r.metadata["kafka.offset"] == "42"
    assert r.metadata["conduit.source.connector.id"] == "k-src"
    # envelope schema is complete — a downstream processor chain binds
    from conduit_spark.envelope import ENVELOPE_COLUMNS, validate

    validate(env)
    assert tuple(env.columns) == ENVELOPE_COLUMNS


def test_kafka_records_round_trip_of_envelope(spark):
    """envelope→kafka then kafka→envelope preserves the payload: the
    full wiring minus the broker."""
    env = envelope_from_kafka(_kafka_shaped_df(spark), "k-src")
    recs = kafka_records(env)
    out = {bytes(r.value) for r in recs.collect()}
    assert out == {b'{"id": 1}', b"rawbytes"}
    keys = {bytes(r.key) if r.key is not None else None for r in recs.collect()}
    assert keys == {b"k1", None}


def test_kafka_structured_envelope_sends_json(spark):
    from conduit_spark import envelope as envm

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    env = envm.from_table(df, key_cols=["id"], source_id="t")
    row = kafka_records(env).collect()[0]
    assert json.loads(bytes(row.value).decode()) == {"id": 1, "name": "a"}
    assert json.loads(bytes(row.key).decode()) == {"id": 1}


S3_SETTINGS = {
    "path": "s3a://my-bucket/exports/",
    "format": "parquet",
    "aws.accessKeyId": "AKIATEST",
    "aws.secretAccessKey": "shh",
    "aws.region": "eu-west-1",
    "aws.url": "http://minio:9000",
    "aws.pathStyle": True,
}


def test_s3_settings_reach_hadoop_conf(spark):
    applied = apply_s3_conf(spark, S3_SETTINGS)
    assert applied == {
        "fs.s3a.access.key": "AKIATEST",
        "fs.s3a.secret.key": "shh",
        "fs.s3a.endpoint.region": "eu-west-1",
        "fs.s3a.endpoint": "http://minio:9000",
        "fs.s3a.path.style.access": "true",
    }
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in applied.items():
        assert conf.get(k) == v


def test_s3_source_passes_path_through_to_filesystem_layer(spark):
    """Proof the s3a:// path reaches Hadoop's FS resolution: without
    the s3a jars the load fails INSIDE the filesystem layer, naming
    the scheme — i.e. our wiring delivered the path unchanged."""
    with pytest.raises(Exception, match="s3a|S3A|ClassNotFound"):
        build_source(
            spark,
            "builtin:s3",
            dict(S3_SETTINGS, format="text"),
            "s3-src",
        )


def test_s3_source_local_path_is_file_path_code(spark, tmp_path):
    """builtin:s3 and builtin:file share one code path — a local path
    through the s3 plugin behaves identically to the file source."""
    p = tmp_path / "x.txt"
    p.write_text("hello\nworld\n")
    env = build_source(spark, "builtin:s3", {"path": str(p)}, "s3-src")
    assert env.count() == 2


# --- RecordBatch v2 wire format (protocol-level, no broker needed) --------


class TestKafkaWireFormat:
    """The byte layer under builtin:kafka: RecordBatch v2 encode/decode
    per the public Kafka protocol (magic 2, varint/zigzag records,
    CRC32C over the batch body). Protocol-level proof the option-level
    wiring rides a correct record model."""

    def test_crc32c_spec_vector(self):
        from conduit_spark.functions.kafka_wire import crc32c

        # RFC 3720 appendix B test vector for CRC32C("123456789")
        assert crc32c(b"123456789") == 0xE3069283

    def test_crc32c_lanes_match_table_loop(self):
        """Inputs from 2 KB up take the numpy lanes; every length and
        seed must give the byte-at-a-time table loop's CRC."""
        import random

        from conduit_spark.functions import kafka_wire as kw

        def table(data: bytes, crc: int) -> int:
            return ~kw._table_crc(~crc & 0xFFFFFFFF, data) & 0xFFFFFFFF

        rng = random.Random(15)
        edges = [0, 1, 3, 4, 17, 2047, 2048, 2049, 2050, 4099, (1 << 18) - 1, 1 << 18]
        sizes = edges + [rng.randrange(0, 1 << 20) for _ in range(10)] + [1 << 20]
        for n in sizes:
            data = rng.randbytes(n)
            seed = rng.randrange(1, 1 << 32)
            assert kw.crc32c(data, seed) == table(data, seed), n
            assert kw.crc32c(data) == table(data, 0), n
        long = b"123456789" * 1000
        assert kw.crc32c(long) == table(long, 0)
        assert kw.crc32c(long[5000:], kw.crc32c(long[:5000])) == kw.crc32c(long)

    def test_round_trip_offsets_timestamps_headers(self):
        from conduit_spark.functions.kafka_wire import (
            decode_record_batches,
            encode_record_batch,
        )

        recs = [
            {"key": b"k1", "value": b"v1", "headers": {"h": b"x"}, "timestamp": 100},
            {"key": None, "value": b"v2", "headers": {}, "timestamp": 105},
            {"key": b"k3", "value": None, "headers": {"a": None, "b": b""}, "timestamp": 101},
        ]
        seg = encode_record_batch(recs, base_offset=42) + encode_record_batch(
            [{"key": b"z", "value": b"w", "timestamp": 7}], base_offset=45
        )
        out = decode_record_batches(seg)
        assert [r["offset"] for r in out] == [42, 43, 44, 45]
        assert [r["timestamp"] for r in out] == [100, 105, 101, 7]
        assert out[0]["key"] == b"k1" and out[1]["key"] is None
        assert out[2]["value"] is None
        assert out[2]["headers"] == {"a": None, "b": b""}

    def test_corruption_detected_by_crc(self):
        import pytest

        from conduit_spark.functions.kafka_wire import (
            decode_record_batches,
            encode_record_batch,
        )

        blob = bytearray(
            encode_record_batch([{"key": b"k", "value": b"v", "timestamp": 1}])
        )
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            decode_record_batches(bytes(blob))

    def test_envelope_wire_round_trip(self, spark):
        """OpenCDC envelopes → sink projection (kafka_records) → wire
        bytes → decode → source projection (envelope_from_kafka):
        payloads and keys survive the full protocol path."""
        import pyspark.sql.functions as F

        from conduit_spark import envelope as env
        from conduit_spark.functions.kafka_wire import (
            decode_record_batches,
            encode_record_batch,
        )
        from conduit_spark.pipeline.registry import envelope_from_kafka
        from conduit_spark.sinks import kafka_records

        base = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, name string"
        )
        envelopes = env.from_table(base, key_cols=["id"], source_id="t")
        kv = kafka_records(envelopes).collect()

        wire = encode_record_batch(
            [
                {"key": bytes(r["key"]), "value": bytes(r["value"]), "timestamp": i}
                for i, r in enumerate(kv)
            ],
            base_offset=1000,
        )
        decoded = decode_record_batches(wire)

        # rebuild the spark-sql-kafka source schema from the wire bytes
        src = spark.createDataFrame(
            [
                (r["key"], r["value"], "t1", 0, r["offset"])
                for r in decoded
            ],
            "key binary, value binary, topic string, partition int, offset long",
        )
        back = envelope_from_kafka(src, "kafka-src").collect()
        names = sorted(
            __import__("json").loads(bytes(r["payload_after_raw"]).decode())["name"]
            for r in back
        )
        assert names == ["alpha", "beta", "gamma"]
        assert [bytes(r["position"]).decode() for r in back] == [
            "t1:0:1000",
            "t1:0:1001",
            "t1:0:1002",
        ]


# -- round-9 destination/source parameters (reference parity) ------------


def test_duration_ms_parses_go_durations():
    from conduit_spark.pipeline.registry import _duration_ms

    assert _duration_ms(None, default_ms=30000) == 30000
    assert _duration_ms("500ms", default_ms=0) == 500
    assert _duration_ms("5s", default_ms=0) == 5000
    assert _duration_ms("2m", default_ms=0) == 120000
    assert _duration_ms(3, default_ms=0) == 3000  # bare seconds


def test_kafka_wire_acks_none_and_batch_bytes(spark):
    """acks=none (fire-and-forget Produce, broker sends no response)
    and batchBytes-capped requests through YAML settings: every record
    still lands, in order per partition."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    with MiniKafkaBroker() as b:
        b.create_topic("acks0-pipe", partitions=2)
        settings = {
            "servers": b.bootstrap, "topic": "acks0-pipe",
            "transport": "wire", "acks": "none",
            "batchBytes": "200",  # forces multi-request batches
            "deliveryTimeout": "5s", "clientID": "r9-test",
        }
        src = spark.createDataFrame(
            [(f"u{i}", json.dumps({"n": i, "pad": "x" * 40})) for i in range(30)],
            "key_json string, payload_after_json string",
        ).coalesce(1).selectExpr(
            # one producer task so per-kafka-partition order is
            # deterministic (a multi-task fleet interleaves, as real
            # producers do)
            "key_json",
            "cast(null as binary) as key_raw",
            "payload_after_json",
            "cast(null as binary) as payload_after_raw",
        )
        registry.write_destination(src, "builtin:kafka", settings)
        seen = []
        with MiniKafkaClient(b.bootstrap) as c:
            for p in (0, 1):
                recs, _ = c.fetch("acks0-pipe", p, 0)
                ns = [json.loads(r["value"])["n"] for r in recs]
                # single producer task: per-partition arrival order is
                # source order even across the size-capped requests
                assert ns == sorted(ns)
                seen.extend(ns)
        assert sorted(seen) == list(range(30))


def test_kafka_wire_read_from_beginning_false_skips_backlog(spark):
    """readFromBeginning=false with a fresh consumer group: partitions
    without a committed offset start at LATEST (only new records) —
    the reference source's default tail behavior."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    def read(**settings):
        settings.update(servers=b.bootstrap, topic="rfb-t", transport="wire")
        return registry.build_source(spark, "builtin:kafka", settings, "k")

    with MiniKafkaBroker() as b:
        b.create_topic("rfb-t", partitions=1)
        with MiniKafkaClient(b.bootstrap) as c:
            c.produce("rfb-t", 0, [
                {"key": None, "value": b"old", "timestamp": 1}
            ])
        df = read(groupId="g-rfb", readFromBeginning="false")
        assert df.count() == 0  # backlog skipped
        df2 = read(groupId="g-rfb", readFromBeginning="true")
        assert df2.count() == 1  # opt-in to the backlog


def test_log_sink_level_and_message(spark, capsys):
    """The reference log destination's level/message parameters: one
    console JSON line per record in the documented
    {"level":...,"record":{...}} shape, invalid level rejected
    (inclusion validation)."""
    from conduit_spark.pipeline import registry

    df = spark.createDataFrame(
        [("k1", '{"n": 1}'), ("k2", '{"n": 2}')],
        "key_json string, payload_after_json string",
    )
    registry.write_destination(
        df, "builtin:log", {"level": "warn", "message": "demo"}
    )
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{")
    ]
    assert len(lines) == 2
    assert all(o["level"] == "warn" for o in lines)
    assert all(o["message"] == "demo" for o in lines)
    payloads = {o["record"]["payload_after_json"] for o in lines}
    assert payloads == {'{"n": 1}', '{"n": 2}'}
    with pytest.raises(ValueError, match="log level"):
        registry.write_destination(df, "builtin:log", {"level": "loud"})


def test_sdk_record_format_opencdc_json_and_template(spark, tmp_path):
    """The reference's sdk.record.format output middleware on the file
    destination: opencdc/json renders the nested record shape
    (structured key/payload as real JSON objects, position base64),
    template renders the Go template per record — both pure column
    algebra."""
    from conduit_spark import envelope as envm
    from conduit_spark.pipeline import registry
    from conduit_spark.sinks import format_records

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    env = envm.from_table(df, key_cols=["id"], source_id="t")

    out1 = tmp_path / "opencdc"
    registry.write_destination(
        env, "builtin:file",
        {"path": str(out1), "sdk.record.format": "opencdc/json"},
    )
    lines = [
        json.loads(line)
        for p in out1.glob("*.txt")
        for line in p.read_text().splitlines()
    ]
    assert len(lines) == 2
    by_id = {o["key"]["id"]: o for o in lines}
    assert by_id[1]["payload"]["after"] == {"id": 1, "name": "a"}
    assert by_id[1]["payload"]["before"] is None
    assert by_id[1]["operation"] == "create"
    import base64 as b64mod

    assert b64mod.b64decode(by_id[2]["position"])  # real base64

    out2 = tmp_path / "tpl"
    registry.write_destination(
        env, "builtin:file",
        {
            "path": str(out2),
            "sdk.record.format": "template",
            "sdk.record.format.options":
                "{{ .Payload.After.id }}|{{ .Payload.After.name }}",
        },
    )
    rendered = sorted(
        line for p in out2.glob("*.txt") for line in p.read_text().splitlines()
    )
    assert rendered == ["1|a", "2|b"]

    with pytest.raises(ValueError, match="sdk.record.format"):
        format_records(env, "debezium/yaml")
    with pytest.raises(ValueError, match="requires the template"):
        format_records(env, "template")


def test_sdk_record_format_raw_payload_base64(spark, tmp_path):
    """Raw (non-structured) key/payload travel base64-quoted in the
    opencdc/json line, matching the reference's log example."""
    import base64 as b64mod

    from conduit_spark.envelope import ENVELOPE_SCHEMA
    from conduit_spark.sinks import format_records

    env = spark.createDataFrame(
        [(b"pos1", "create", {"m": "1"}, b"rawkey", None, None, None,
          b"rawbytes", False)],
        ENVELOPE_SCHEMA,
    )
    o = json.loads(format_records(env).collect()[0].value)
    assert b64mod.b64decode(o["key"]) == b"rawkey"
    assert b64mod.b64decode(o["payload"]["after"]) == b"rawbytes"
    assert o["metadata"] == {"m": "1"}


def test_kafka_wire_read_from_beginning_false_without_group(spark):
    """readFromBeginning=false is honored even when NO consumer group
    is configured (ADVICE r9: it used to fall through to EARLIEST,
    silently inverting the setting for ported reference pipelines)."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    def read(**settings):
        settings.update(
            servers=b.bootstrap, topic="rfb-nogroup", transport="wire"
        )
        return registry.build_source(spark, "builtin:kafka", settings, "k")

    with MiniKafkaBroker() as b:
        b.create_topic("rfb-nogroup", partitions=1)
        with MiniKafkaClient(b.bootstrap) as c:
            c.produce("rfb-nogroup", 0, [
                {"key": None, "value": b"backlog", "timestamp": 1}
            ])
        df = read(readFromBeginning="false")
        assert df.count() == 0  # backlog skipped, groupId or not
        df2 = read(readFromBeginning="true")
        assert df2.count() == 1


def test_kafka_wire_sink_rejects_unknown_acks(spark):
    """acks gets the reference's inclusion(none,one,all) validation —
    a typo or the numeric string '1' raises ValueError, not a bare
    KeyError (ADVICE r9)."""
    from conduit_spark.sinks import kafka_wire_sink

    df = spark.createDataFrame([("k", b"v")], "key_json string, value binary")
    with pytest.raises(ValueError, match="none/one/all.*'1'"):
        kafka_wire_sink(df, "127.0.0.1:1", "t", acks="1")


def test_kafka_wire_sink_batch_bytes_is_a_request_cap(spark):
    """batchBytes limits the MAXIMUM produce request size (the
    reference mirrors max.message.bytes — a real broker rejects an
    oversized request). The producer must flush BEFORE appending a
    record that would push past the cap, so every encoded RecordBatch
    the broker sees stays under batchBytes (ADVICE r9: the old
    append-then-check let the flushed request be the first one OVER
    the cap)."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    batch_bytes = 500
    with MiniKafkaBroker() as b:
        b.create_topic("bb-cap", partitions=1)
        settings = {
            "servers": b.bootstrap, "topic": "bb-cap",
            "transport": "wire", "batchBytes": str(batch_bytes),
        }
        # value ~120B -> ~190B estimated per record: 2 fit under 500,
        # a 3rd would have been appended by the old buggy logic
        src = spark.createDataFrame(
            [(f"k{i}", json.dumps({"i": i, "pad": "y" * 100})) for i in range(9)],
            "key_json string, payload_after_json string",
        ).coalesce(1).selectExpr(
            "key_json",
            "cast(null as binary) as key_raw",
            "payload_after_json",
            "cast(null as binary) as payload_after_raw",
        )
        registry.write_destination(src, "builtin:kafka", settings)
        assert b.produce_set_sizes, "no produce requests observed"
        assert max(b.produce_set_sizes) <= batch_bytes, b.produce_set_sizes
        with MiniKafkaClient(b.bootstrap) as c:
            total = len(c.fetch("bb-cap", 0, 0)[0])
        assert total == 9  # the cap never drops records


def test_kafka_wire_source_client_id_on_executor_fetches(spark):
    """clientID travels on executor fetch connections, not only the
    driver metadata connection (ADVICE r9) — observable in the
    broker's request log the way a real broker's request metrics
    would tag every API by client.id."""
    from conduit_spark.functions.minikafka import (
        API_FETCH,
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    with MiniKafkaBroker() as b:
        b.create_topic("cid-t", partitions=2)
        with MiniKafkaClient(b.bootstrap) as c:
            for p in (0, 1):
                c.produce("cid-t", p, [
                    {"key": None, "value": b"x", "timestamp": 1}
                ])
        b.request_log.clear()
        df = registry.build_source(
            spark, "builtin:kafka",
            {
                "servers": b.bootstrap, "topic": "cid-t",
                "transport": "wire", "clientID": "trace-me",
            },
            "k",
        )
        assert df.count() == 2
        fetch_cids = {
            cid for api, _, _, cid in b.request_log if api == API_FETCH
        }
        assert fetch_cids == {"trace-me"}
