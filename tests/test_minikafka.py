"""Protocol-level builtin:kafka verification: the in-process broker
(`functions/minikafka.py`) speaks the public Kafka wire protocol over
real TCP, and the engine's wire transport (sink `foreachPartition`
producer, source `conduit-kafka-wire` DataSource with one fetch task
per partition) round-trips envelopes through it. This upgrades kafka parity from options+codec
level to request/response level — the sandbox analog of the
reference's dockerized broker integration tests."""

from __future__ import annotations

import json

import pytest

from conduit_spark.functions.minikafka import (
    EARLIEST,
    LATEST,
    MiniKafkaBroker,
    MiniKafkaClient,
    murmur2,
    partition_for_key,
)


@pytest.fixture()
def broker():
    with MiniKafkaBroker(default_partitions=3) as b:
        yield b


def test_api_versions_and_metadata(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        versions = c.api_versions()
        # core data-plane APIs plus the consumer-group coordinator set
        assert versions == {
            0: (3, 9), 1: (4, 12), 2: (1, 6), 3: (1, 9), 18: (0, 3),
            8: (2, 8), 9: (1, 8), 10: (0, 4), 11: (0, 6), 12: (0, 4),
            13: (0, 5), 14: (0, 5), 17: (1, 1), 36: (0, 0),
        }
        broker.create_topic("t1", partitions=4)
        md = c.metadata(["t1"])
        assert md["controller"] == 0
        assert md["brokers"][0]["port"] == broker.port
        t = md["topics"]["t1"]
        assert t["error"] == 0
        assert [p["partition"] for p in t["partitions"]] == [0, 1, 2, 3]
        # a named metadata request auto-creates the topic with
        # default_partitions (auto.create.topics.enable semantics)
        md2 = c.metadata(["nope"])
        assert md2["topics"]["nope"]["error"] == 0
        assert len(md2["topics"]["nope"]["partitions"]) == broker.default_partitions


def test_produce_fetch_roundtrip_with_offset_assignment(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        base = c.produce(
            "orders",
            1,
            [
                {"key": b"k1", "value": b"v1", "headers": {"h": b"x"}, "timestamp": 100},
                {"key": None, "value": b"v2", "timestamp": 101},
            ],
        )
        assert base == 0
        # second produce restamps its batch at the log end; gzip path too
        base2 = c.produce(
            "orders", 1, [{"key": b"k3", "value": b"v3", "timestamp": 102}],
            compression="gzip",
        )
        assert base2 == 2
        recs, hwm = c.fetch("orders", 1, 0)
        assert hwm == 3
        assert [(r["offset"], r["key"], r["value"]) for r in recs] == [
            (0, b"k1", b"v1"),
            (1, None, b"v2"),
            (2, b"k3", b"v3"),
        ]
        assert recs[0]["headers"] == {"h": b"x"}
        assert [r["timestamp"] for r in recs] == [100, 101, 102]
        # fetch from a mid-log offset skips earlier records
        recs2, _ = c.fetch("orders", 1, 2)
        assert [(r["offset"], r["value"]) for r in recs2] == [(2, b"v3")]
        assert c.list_offsets("orders", 1, EARLIEST) == 0
        assert c.list_offsets("orders", 1, LATEST) == 3
        # untouched sibling partition is empty, not an error
        assert c.fetch("orders", 0, 0) == ([], 0)


def test_fetch_beyond_hwm_is_offset_out_of_range(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        c.produce("t", 0, [{"key": b"a", "value": b"b"}])
        recs, hwm = c.fetch("t", 0, 99)
        assert recs == [] and hwm == 1


def test_murmur2_matches_kafka_partitioner_properties():
    # deterministic, 32-bit, and spread across partitions
    assert murmur2(b"") == murmur2(b"")
    vals = {murmur2(str(i).encode()) for i in range(200)}
    assert len(vals) == 200
    assert all(0 <= v <= 0xFFFFFFFF for v in vals)
    parts = {partition_for_key(str(i).encode(), None, 3) for i in range(50)}
    assert parts == {0, 1, 2}
    # null key routes by value hash (deterministic replay, documented)
    assert partition_for_key(None, b"v", 5) == partition_for_key(None, b"v", 5)


def test_wire_sink_then_wire_source_roundtrip(spark, tmp_path, broker):
    """e2e over TCP: envelopes → kafka_wire_sink (foreachPartition
    producer) → broker log → ``conduit-kafka-wire`` batch read (one
    fetch task per partition) → envelopes. Payloads and key routing
    survive."""
    from conduit_spark.sinks import kafka_wire_sink
    from conduit_spark.sources import pyds

    broker.create_topic("events", partitions=3)
    rows = [(f"key-{i}", json.dumps({"i": i, "v": i * i})) for i in range(100)]
    df = spark.createDataFrame(rows, "key_json string, payload_after_json string")
    env = df.selectExpr(
        "key_json",
        "cast(null as binary) as key_raw",
        "payload_after_json",
        "cast(null as binary) as payload_after_raw",
    )
    kafka_wire_sink(env, broker.bootstrap, "events", batch_size=16)

    out = pyds.load(
        spark, "conduit-kafka-wire",
        {"servers": broker.bootstrap, "topic": "events"},
    )
    got = out.collect()
    assert len(got) == 100
    payloads = sorted(json.loads(bytes(r.value).decode())["i"] for r in got)
    assert payloads == list(range(100))
    # every record landed on the partition murmur2 assigns its key
    for r in got:
        assert r.partition == partition_for_key(bytes(r.key), None, 3)
        assert r.topic == "events"
    # offsets are dense per partition starting at zero
    by_part: dict[int, list[int]] = {}
    for r in got:
        by_part.setdefault(r.partition, []).append(r.offset)
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_pipeline_destination_and_source_wire_transport(spark, broker):
    """The registry dispatch: builtin:kafka with transport=wire on
    both sides, driven through build_source / run_destination paths."""
    from conduit_spark.pipeline import registry

    broker.create_topic("pipe", partitions=2)
    src = spark.createDataFrame(
        [(f"u{i}", json.dumps({"n": i})) for i in range(20)],
        "key_json string, payload_after_json string",
    ).selectExpr(
        "key_json",
        "cast(null as binary) as key_raw",
        "payload_after_json",
        "cast(null as binary) as payload_after_raw",
    )
    registry.write_destination(
        src,
        "builtin:kafka",
        {"servers": broker.bootstrap, "topic": "pipe", "transport": "wire"},
    )
    env = registry.build_source(
        spark,
        "builtin:kafka",
        {"servers": broker.bootstrap, "topic": "pipe", "transport": "wire"},
        "ksrc",
        streaming=False,
    )
    got = env.collect()
    assert len(got) == 20
    assert {r.operation for r in got} == {"create"}
    ns = sorted(json.loads(bytes(r.payload_after_raw).decode())["n"] for r in got)
    assert ns == list(range(20))
    meta = dict(got[0].metadata)
    assert meta["conduit.source.connector.id"] == "ksrc"
    assert meta["kafka.topic"] == "pipe"
    # position is topic:partition:offset — the reference's encoding
    pos = bytes(got[0].position).decode()
    assert pos.startswith("pipe:") and pos.count(":") == 2


def test_wire_source_streaming_returns_streaming_envelopes(spark, broker):
    """streaming=True on transport=wire builds a Python-DataSource
    readStream (no longer refused; full e2e in test_pyds_streaming)."""
    from conduit_spark.pipeline import registry

    broker.create_topic("x", partitions=1)
    env = registry.build_source(
        spark,
        "builtin:kafka",
        {"servers": broker.bootstrap, "topic": "x", "transport": "wire"},
        "s",
        streaming=True,
    )
    assert env.isStreaming
    assert "position" in env.columns and "payload_after_raw" in env.columns


# --- property: arbitrary record streams survive the full TCP path ----

from hypothesis import given, settings as hsettings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_blob = st.one_of(st.none(), st.binary(max_size=48))
_record = st.fixed_dictionaries(
    {
        "key": _blob,
        "value": _blob,
        "headers": st.dictionaries(st.text(max_size=8), _blob, max_size=3),
        "timestamp": st.integers(min_value=0, max_value=2**40),
    }
)


@hsettings(max_examples=25, deadline=None)
@given(batches=st.lists(st.lists(_record, min_size=1, max_size=8), min_size=1, max_size=5))
def test_property_any_records_roundtrip_broker(batches):
    """Every produce/fetch round-trip through the socket preserves
    records exactly and assigns dense offsets across batches."""
    with MiniKafkaBroker(default_partitions=1) as b, MiniKafkaClient(b.bootstrap) as c:
        expected = []
        for batch in batches:
            base = c.produce("t", 0, batch)
            assert base == len(expected)
            expected.extend(batch)
        got, hwm = c.fetch("t", 0, 0)
        assert hwm == len(expected)
        assert len(got) == len(expected)
        for orig, dec in zip(expected, got):
            assert dec["key"] == (bytes(orig["key"]) if orig["key"] is not None else None)
            assert dec["value"] == (
                bytes(orig["value"]) if orig["value"] is not None else None
            )
            assert dec["timestamp"] == orig["timestamp"]
            assert dec["headers"] == {
                k: (bytes(v) if v is not None else None)
                for k, v in orig["headers"].items()
            }


def test_pipeline_runtime_delivery_counts_wire_destination(spark, broker):
    """Regression: the runtime's delivery Observation only fires on
    Dataset actions, so a foreachPartition-based sink deadlocks
    Pipeline._deliver. The wire sink must deliver via mapInPandas +
    Dataset write and report an accurate count through run_batch."""
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    broker.create_topic("rt", partitions=2)
    cfg = parse_yaml(
        f"""
version: "2.2"
pipelines:
  - id: wire-rt
    connectors:
      - id: gen
        type: source
        plugin: builtin:generator
        settings:
          recordCount: 40
          format.options: {{id: int, name: string}}
      - id: out
        type: destination
        plugin: builtin:kafka
        settings:
          servers: {broker.bootstrap}
          topic: rt
          transport: wire
"""
    )[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.delivered == {"out": 40}
    assert res.nacked == 0
    with MiniKafkaClient(broker.bootstrap) as c:
        total = sum(c.list_offsets("rt", p, LATEST) for p in (0, 1))
    assert total == 40


def test_produce_with_multiple_batches_in_one_record_set(broker):
    """A produce request whose record_set holds SEVERAL RecordBatch
    frames (real producers batch this way under load): the broker must
    restamp each batch at its own log position."""
    from conduit_spark.functions.kafka_wire import encode_record_batch

    import struct

    b1 = encode_record_batch([{"key": b"a", "value": b"1"}, {"key": b"b", "value": b"2"}])
    b2 = encode_record_batch([{"key": b"c", "value": b"3"}], compression="gzip")
    record_set = b1 + b2
    with MiniKafkaClient(broker.bootstrap) as c:
        # drive the raw Produce body so both frames ride one request
        from conduit_spark.functions.minikafka import API_PRODUCE, _w_bytes, _w_str

        body = (
            _w_str(None)
            + struct.pack(">hi", -1, 30000)
            + struct.pack(">i", 1) + _w_str("multi")
            + struct.pack(">i", 1) + struct.pack(">i", 0)
            + _w_bytes(record_set)
        )
        r = c._call(API_PRODUCE, 3, body)
        r.i32(); r.string(); r.i32(); r.i32()
        assert r.i16() == 0  # error_code
        assert r.i64() == 0  # base offset of the FIRST batch
        recs, hwm = c.fetch("multi", 0, 0)
        assert hwm == 3
        assert [(x["offset"], x["value"]) for x in recs] == [
            (0, b"1"), (1, b"2"), (2, b"3"),
        ]


def test_metadata_request_autocreates_named_topic(broker):
    """An explicitly-named metadata request auto-creates the topic with
    default_partitions (Kafka auto.create.topics.enable semantics), so
    a producer sizing its partitioner BEFORE the first produce sees the
    real partition count — not 0 → fallback 1 → everything on
    partition 0 diverging from every later run."""
    from conduit_spark.functions.minikafka import MiniKafkaClient

    with MiniKafkaClient(broker.bootstrap) as c:
        md = c.metadata(["fresh-topic"])
        parts = md["topics"]["fresh-topic"]["partitions"]
        assert len(parts) == broker.default_partitions
        # the all-topics listing never creates
        md2 = c.metadata(None)
        assert "other-unknown" not in md2["topics"]


def test_wire_source_multi_topic_batch(spark, broker):
    """A batch read accepts a comma-separated topic list."""
    from conduit_spark.sources import pyds

    broker.create_topic("m1", partitions=1)
    broker.create_topic("m2", partitions=2)
    with MiniKafkaClient(broker.bootstrap) as c:
        c.produce("m1", 0, [{"key": None, "value": b"x", "timestamp": 1}])
        c.produce("m2", 1, [{"key": None, "value": b"y", "timestamp": 1}])
    df = pyds.load(
        spark, "conduit-kafka-wire",
        {"servers": broker.bootstrap, "topics": "m1, m2"},
    )
    rows = {(r.topic, bytes(r.value)) for r in df.collect()}
    assert rows == {("m1", b"x"), ("m2", b"y")}


def test_validate_kafka_topics_plural():
    from conduit_spark.pipeline.registry import validate_connector

    assert validate_connector(
        "source", "builtin:kafka", {"servers": "h:1", "topics": "a,b"}
    ) == []
    errs = validate_connector("source", "builtin:kafka", {"servers": "h:1"})
    assert any("topic" in e for e in errs)


def test_modern_client_apiversions_downgrade(broker):
    """KIP-511 downgrade sequence for a FUTURE revision: ApiVersions v4
    (not served — our range is 0-3) with request header v2 → the broker
    must answer UNSUPPORTED_VERSION in a v0-SHAPED body that still
    carries the supported-versions table (never kill the connection);
    the client re-sends v0 on the SAME socket and proceeds at the
    advertised revisions. v3 itself is served natively since round 10
    (test_apiversions_v3_served_natively). ADR:
    docs/architecture-decision-records/20260815-kafka-wire-nonflexible-scope.md
    """
    import socket as _socket
    import struct as _struct

    from conduit_spark.functions.minikafka import (
        ERR_UNSUPPORTED_VERSION,
        _Reader,
        _recv_exact,
        _w_str,
    )

    def uvarint(n: int) -> bytes:
        out = b""
        while True:
            b7 = n & 0x7F
            n >>= 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    def compact_str(s: str) -> bytes:
        raw = s.encode()
        return uvarint(len(raw) + 1) + raw

    host, port = broker.bootstrap.rsplit(":", 1)
    sock = _socket.create_connection((host, int(port)))
    try:
        # -- exchange 1: ApiVersions v3, flexible request header v2
        # (client_id stays a CLASSIC nullable string in header v2;
        # the flexibility is the trailing tagged-field buffer + the
        # compact-encoded body)
        req = (
            _struct.pack(">hhi", 18, 4, 7)     # api_key, version, corr
            + _w_str("franz-go-alike")          # header v2 client_id
            + uvarint(0)                        # header tagged fields
            + compact_str("conduit-test")       # client_software_name
            + compact_str("1.0.0")              # client_software_version
            + uvarint(0)                        # body tagged fields
        )
        sock.sendall(_struct.pack(">i", len(req)) + req)
        (size,) = _struct.unpack(">i", _recv_exact(sock, 4))
        r = _Reader(_recv_exact(sock, size))
        assert r.i32() == 7                     # response header v0
        assert r.i16() == ERR_UNSUPPORTED_VERSION
        table = {r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())}
        assert table[18] == (0, 3)              # broker advertises its max

        # -- exchange 2: the downgraded retry, same socket
        req = _struct.pack(">hhi", 18, 0, 8) + _w_str("franz-go-alike")
        sock.sendall(_struct.pack(">i", len(req)) + req)
        (size,) = _struct.unpack(">i", _recv_exact(sock, 4))
        r = _Reader(_recv_exact(sock, size))
        assert r.i32() == 8
        assert r.i16() == 0
        table0 = {r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())}
        assert table0 == table                  # one table, two replies
    finally:
        sock.close()

    # -- proceed at the negotiated (non-flexible) versions
    broker.create_topic("downgrade-t", partitions=1)
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.api_versions() == table0
        base = c.produce(
            "downgrade-t", 0,
            [{"key": b"k", "value": b"v", "timestamp": 1}],
        )
        got, hwm = c.fetch("downgrade-t", 0, base)
        assert hwm == base + 1
        assert [(rec["key"], rec["value"]) for rec in got] == [(b"k", b"v")]


# -- SASL (PLAIN + SCRAM-SHA-256) ----------------------------------------


def test_scram_matches_rfc7677_worked_example():
    """RFC 7677 §3 vector (user/pencil, published nonces): client
    proof and server signature must match the RFC byte-for-byte."""
    from conduit_spark.functions.scram import ScramClient

    c = ScramClient("user", "pencil", nonce="rOprNGfwEbeRWgbNEkqO")
    assert c.first() == "n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    assert c.final(server_first) == (
        "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    c.verify_server("v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


@pytest.mark.parametrize("mechanism", ["PLAIN", "SCRAM-SHA-256"])
def test_sasl_authenticated_produce_fetch(mechanism):
    users = {"svc": "hunter2"}
    with MiniKafkaBroker(users=users) as b:
        b.create_topic("sec", partitions=1)
        sasl = {"mechanism": mechanism, "username": "svc", "password": "hunter2"}
        with MiniKafkaClient(b.bootstrap, sasl=sasl) as c:
            base = c.produce(
                "sec", 0, [{"key": b"k", "value": b"v", "timestamp": 1}]
            )
            recs, hwm = c.fetch("sec", 0, base)
            assert hwm == base + 1
            assert recs[0]["value"] == b"v"


@pytest.mark.parametrize("mechanism", ["PLAIN", "SCRAM-SHA-256"])
def test_sasl_wrong_password_fails(mechanism):
    with MiniKafkaBroker(users={"svc": "hunter2"}) as b:
        sasl = {"mechanism": mechanism, "username": "svc", "password": "nope"}
        with pytest.raises(RuntimeError, match="authentication failed"):
            MiniKafkaClient(b.bootstrap, sasl=sasl)


def test_sasl_unknown_user_and_mechanism():
    with MiniKafkaBroker(users={"svc": "hunter2"}) as b:
        with pytest.raises(RuntimeError, match="authentication failed"):
            MiniKafkaClient(
                b.bootstrap,
                sasl={"mechanism": "SCRAM-SHA-256",
                      "username": "ghost", "password": "x"},
            )
        # SCRAM-SHA-512 is SUPPORTED since round 9; OAUTHBEARER is the
        # documented descope (ADR: infrastructure dependencies), so it
        # is the unsupported-mechanism probe now
        with pytest.raises(RuntimeError, match="broker offers"):
            MiniKafkaClient(
                b.bootstrap,
                sasl={"mechanism": "OAUTHBEARER",
                      "username": "svc", "password": "hunter2"},
            )


def test_unauthenticated_data_api_closes_connection():
    """A data request before SASL on a requiring broker gets the
    connection closed, and ApiVersions (the pre-auth discovery call)
    still answers."""
    with MiniKafkaBroker(users={"svc": "hunter2"}) as b:
        with MiniKafkaClient(b.bootstrap) as c:
            versions = c.api_versions()  # allowed pre-auth
            assert versions[17] == (1, 1) and versions[36] == (0, 0)
            with pytest.raises((ConnectionError, ValueError)):
                c.metadata(["t"])


def test_open_broker_still_accepts_sasl_clients():
    """No users configured: SASL clients authenticate trivially and
    anonymous clients keep working (dev mode unchanged)."""
    with MiniKafkaBroker() as b:
        b.create_topic("t", partitions=1)
        sasl = {"mechanism": "PLAIN", "username": "x", "password": "y"}
        with MiniKafkaClient(b.bootstrap, sasl=sasl) as c:
            c.produce("t", 0, [{"key": None, "value": b"v", "timestamp": 1}])
        with MiniKafkaClient(b.bootstrap) as c:
            recs, _ = c.fetch("t", 0, 0)
            assert recs[0]["value"] == b"v"


def test_sasl_wire_transport_end_to_end(spark):
    """transport=wire with SASL settings on BOTH sides against a
    credential-requiring broker: sink tasks and source tasks each
    authenticate their own connections (reference
    saslMechanism/saslUsername/saslPassword setting names)."""
    from conduit_spark.pipeline import registry

    with MiniKafkaBroker(users={"svc": "pw"}) as b:
        b.create_topic("sec-pipe", partitions=2)
        sasl_settings = {
            "servers": b.bootstrap, "topic": "sec-pipe",
            "transport": "wire", "saslMechanism": "SCRAM-SHA-256",
            "saslUsername": "svc", "saslPassword": "pw",
        }
        src = spark.createDataFrame(
            [(f"u{i}", json.dumps({"n": i})) for i in range(12)],
            "key_json string, payload_after_json string",
        ).selectExpr(
            "key_json",
            "cast(null as binary) as key_raw",
            "payload_after_json",
            "cast(null as binary) as payload_after_raw",
        )
        registry.write_destination(src, "builtin:kafka", sasl_settings)
        env = registry.build_source(
            spark, "builtin:kafka", sasl_settings, "ksrc", streaming=False
        )
        got = env.collect()
        assert len(got) == 12
        ns = sorted(
            json.loads(bytes(r.payload_after_raw).decode())["n"] for r in got
        )
        assert ns == list(range(12))

        # the same flow WITHOUT credentials cannot reach the broker
        plain = {k: v for k, v in sasl_settings.items()
                 if not k.startswith("sasl")}
        with pytest.raises(Exception, match="onnection|closed|reset"):
            registry.build_source(
                spark, "builtin:kafka", plain, "k2", streaming=False
            ).collect()


def test_apiversions_v3_served_natively(broker):
    """A modern client's first request (ApiVersions v3, request header
    v2, compact body with client software name/version) is served
    natively since round 10 — no downgrade round-trip. Response header
    is v0 (the one PINNED exchange: no TAG_BUFFER after correlation
    id even at v3) with a flexible body; v1/v2 are served too so the
    advertised 0-3 range is contiguous and honest."""
    import socket as _socket
    import struct as _struct

    from conduit_spark.functions.minikafka import (
        _Reader,
        _recv_exact,
        _w_compact_str,
        _w_str,
        _w_uvarint,
    )

    host, port = broker.bootstrap.rsplit(":", 1)
    sock = _socket.create_connection((host, int(port)))
    try:
        req = (
            _struct.pack(">hhi", 18, 3, 11)
            + _w_str("franz-go-alike")
            + _w_uvarint(0)                      # header tagged fields
            + _w_compact_str("conduit-test")     # client_software_name
            + _w_compact_str("1.0.0")            # client_software_version
            + _w_uvarint(0)                      # body tagged fields
        )
        sock.sendall(_struct.pack(">i", len(req)) + req)
        (size,) = _struct.unpack(">i", _recv_exact(sock, 4))
        r = _Reader(_recv_exact(sock, size))
        assert r.i32() == 11                     # header v0: corr only
        assert r.i16() == 0                      # error_code NONE
        table = {}
        for _ in range(r.uvarint() - 1):         # compact array
            k, lo, hi = r.i16(), r.i16(), r.i16()
            r.tags()
            table[k] = (lo, hi)
        assert r.i32() == 0                      # throttle_time_ms
        assert r.tags() == {}                    # body TAG_BUFFER
        assert table[18] == (0, 3)
        assert table[0] == (3, 9) and table[1] == (4, 12)

        # v1 and v2 also served (v0 shape + trailing throttle)
        for v, corr in ((1, 12), (2, 13)):
            req = _struct.pack(">hhi", 18, v, corr) + _w_str("c")
            sock.sendall(_struct.pack(">i", len(req)) + req)
            (size,) = _struct.unpack(">i", _recv_exact(sock, 4))
            r = _Reader(_recv_exact(sock, size))
            assert r.i32() == corr and r.i16() == 0
            t = {r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())}
            assert t == table
            assert r.i32() == 0                  # throttle
    finally:
        sock.close()
