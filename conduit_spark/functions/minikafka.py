"""In-process Kafka broker + client over real TCP — public wire
protocol, pure stdlib.

Closes the "options-level only" gap on ``builtin:kafka``: with no
broker or spark-sql-kafka jar in the sandbox, the connector's protocol
path was previously verified only down to the RecordBatch v2 byte
layout (``functions/kafka_wire.py``). This module adds the layer the
reference exercises against a dockerized broker
(conduit-connector-kafka via franz-go, reference
`.github/workflows/test.yml:31`): request/response framing, API
request headers, and the Produce / Fetch / Metadata / ListOffsets /
ApiVersions exchanges, all over a real socket.

Implemented API versions are deliberately the *non-flexible* (pre
tagged-field) revisions of each API — the oldest versions every real
client still speaks — so the framing stays byte-exact to the public
protocol guide without KIP-482 compact encodings:

  ApiVersions v0, Metadata v1, Produce v3, Fetch v4, ListOffsets v1,
  OffsetCommit v2, OffsetFetch v1, FindCoordinator v0, and the group
  membership set JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0 — the
  broker is the coordinator for every group (single node), with
  generation fencing on commits/heartbeats (ILLEGAL_GENERATION /
  UNKNOWN_MEMBER_ID) and the simple-consumer commit path
  (generation -1, empty member). The reference's kafka source is a
  consumer-group source (pkg/plugin/connector/builtin/registry.go);
  the wire source resumes from committed group offsets the same way.
  Round 7 adds SASL (KIP-152 framing: SaslHandshake v1 +
  SaslAuthenticate v0) with PLAIN and SCRAM-SHA-256 (RFC 5802/7677,
  ``functions/scram.py``, golden vector pinned) — brokers constructed
  with ``users={...}`` require authentication on every connection and
  close unauthenticated data-API connections; the client signs in at
  connect when given ``sasl={mechanism, username, password}`` and
  verifies the SCRAM server signature (spoofed-broker detection).
  Round 9 completes the reference connector's ``saslMechanism``
  inclusion list with SCRAM-SHA-512 (same construction, hash swapped)
  and adds mTLS: ``MiniKafkaBroker(client_ca=...)`` REQUIRES client
  certificates, ``MiniKafkaClient(client_cert=, client_key=)``
  presents one — the reference's ``clientCert``/``clientKey``
  settings, mapped from YAML by ``sources.pyds.kafka_tls``.

Record payloads are RecordBatch v2 via ``kafka_wire`` (CRC32C
verified both directions). The broker restamps ``baseOffset`` on
append exactly like a real log (the CRC does not cover the base
offset, so restamping is valid without re-checksumming). Key →
partition routing uses Kafka's default partitioner hash (murmur2,
positive-masked, mod partition count).

Scale note: this broker exists for protocol verification and capture
replay in tests and dev; on a real cluster the hot path is the JVM
``spark-sql-kafka`` source/sink. The *client* here is also the worker
half of the engine's jar-free wire transport (``sinks.kafka_wire_sink``
/ ``registry`` wire source): one socket per Spark task, batched
produces — the same per-partition connection shape a real producer
fleet has.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

from .kafka_wire import decode_record_batches, encode_record_batch

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_FIND_COORDINATOR = 10
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14
API_VERSIONS = 18
API_SASL_HANDSHAKE = 17
API_SASL_AUTHENTICATE = 36

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_UNSUPPORTED_VERSION = 35  # KIP-511 ApiVersions downgrade signal
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_SASL_AUTHENTICATION_FAILED = 58
ERR_MEMBER_ID_REQUIRED = 79  # KIP-394: JoinGroup v4+ empty-member reject

EARLIEST = -2
LATEST = -1


# ---------------------------------------------------------------------------
# primitive wire types (non-flexible encodings)
# ---------------------------------------------------------------------------


def _w_str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def _w_bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.at = 0

    def i8(self) -> int:
        (v,) = struct.unpack_from(">b", self.buf, self.at)
        self.at += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.at)
        self.at += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.at)
        self.at += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.at)
        self.at += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        s = self.buf[self.at : self.at + n].decode("utf-8")
        self.at += n
        return s

    def bytes_(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        b = self.buf[self.at : self.at + n]
        self.at += n
        return b

    # -- KIP-482 compact/flexible primitives (Produce v9, Fetch v12) --

    def uvarint(self) -> int:
        """Unsigned LEB128 varint (the flexible-version length prefix)."""
        shift = 0
        out = 0
        while True:
            b = self.buf[self.at]
            self.at += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def compact_string(self) -> str | None:
        n = self.uvarint()
        if n == 0:
            return None
        s = self.buf[self.at : self.at + n - 1].decode("utf-8")
        self.at += n - 1
        return s

    def compact_bytes(self) -> bytes | None:
        n = self.uvarint()
        if n == 0:
            return None
        b = self.buf[self.at : self.at + n - 1]
        self.at += n - 1
        return b

    def tags(self) -> dict[int, bytes]:
        """Read a TAG_BUFFER; unknown tags are skipped by contract
        (KIP-482's forward-compatibility mechanism), returned here so
        tests can assert round-trips."""
        out: dict[int, bytes] = {}
        for _ in range(self.uvarint()):
            tag = self.uvarint()
            size = self.uvarint()
            out[tag] = self.buf[self.at : self.at + size]
            self.at += size
        return out


def _w_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _w_compact_str(s: str | None) -> bytes:
    if s is None:
        return b"\x00"
    raw = s.encode("utf-8")
    return _w_uvarint(len(raw) + 1) + raw


def _w_compact_bytes(b: bytes | None) -> bytes:
    if b is None:
        return b"\x00"
    return _w_uvarint(len(b) + 1) + b


# empty TAG_BUFFER — no tagged fields (the normal case)
_TAGS = b"\x00"


def murmur2(data: bytes) -> int:
    """Kafka's murmur2 (seed 0x9747b28c) — the default partitioner
    hash, from the public Kafka client sources."""
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    mask = 0xFFFFFFFF
    h = (seed ^ length) & mask
    i = 0
    while length - i >= 4:
        (k,) = struct.unpack_from("<i", data, i)
        k = (k * m) & mask
        k ^= (k % 0x100000000) >> 24
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
        i += 4
    rem = length - i
    if rem == 3:
        h ^= (data[i + 2] & 0xFF) << 16
    if rem >= 2:
        h ^= (data[i + 1] & 0xFF) << 8
    if rem >= 1:
        h ^= data[i] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def partition_for_key(key: bytes | None, value: bytes | None, n_partitions: int) -> int:
    """Default-partitioner routing: murmur2(key) positive-masked mod N.
    Kafka's sticky partitioner picks a random partition for null keys;
    for deterministic replay this engine hashes the value instead
    (documented deviation — reruns land records identically)."""
    data = key if key is not None else (value or b"")
    return (murmur2(data) & 0x7FFFFFFF) % n_partitions


class _SaslRequired(Exception):
    """Data API attempted before SASL completed on a broker that
    requires it — the connection is closed (pre-KIP-152 broker
    behavior for unauthenticated clients)."""


# ---------------------------------------------------------------------------
# broker
# ---------------------------------------------------------------------------


class _PartitionLog:
    """One topic-partition: list of restamped RecordBatch frames plus
    the record count of each, so offsets assign without re-decoding."""

    def __init__(self):
        self.batches: list[bytes] = []  # restamped frames
        self.first_offsets: list[int] = []
        self.next_offset = 0

    def append(self, record_set: bytes) -> int:
        """Append every batch in ``record_set``; returns the base
        offset assigned to the first one."""
        base = self.next_offset
        pos = 0
        n = len(record_set)
        while pos + 12 <= n:
            (_, batch_len) = struct.unpack_from(">qi", record_set, pos)
            frame = record_set[pos : pos + 12 + batch_len]
            pos += 12 + batch_len
            # record count lives at a fixed header offset:
            # 8 baseOffset + 4 length + 4 leaderEpoch + 1 magic + 4 crc
            # + 2 attrs + 4 lastOffsetDelta + 8 firstTs + 8 maxTs
            # + 8 producerId + 2 epoch + 4 baseSeq = 57
            (count,) = struct.unpack_from(">i", frame, 57)
            restamped = struct.pack(">q", self.next_offset) + frame[8:]
            self.batches.append(restamped)
            self.first_offsets.append(self.next_offset)
            self.next_offset += count
        return base

    def read_from(self, offset: int, max_bytes: int) -> bytes:
        out = bytearray()
        for first, frame in zip(self.first_offsets, self.batches):
            (count,) = struct.unpack_from(">i", frame, 57)
            if first + count <= offset:
                continue
            if out and len(out) + len(frame) > max_bytes:
                break
            out += frame  # always return at least one whole batch
        return bytes(out)


class MiniKafkaBroker:
    """Single-node in-memory broker. ``with MiniKafkaBroker() as b:``
    serves on an ephemeral port; ``b.bootstrap`` is host:port. Topics
    auto-create on first produce (``auto.create.topics.enable`` broker
    default) with ``default_partitions`` partitions."""

    node_id = 0

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        default_partitions: int = 2,
        users: dict[str, str] | None = None,
        tls: tuple[str, str] | None = None,
        client_ca: str | None = None,
    ):
        self.host = host
        # (cert_pem, key_pem): TLS listener (SASL_SSL when users set);
        # client_ca additionally REQUIRES a client certificate chained
        # to it (mTLS — the reference kafka connector's
        # clientCert/clientKey settings)
        self._tls = tls
        self._client_ca = client_ca
        # {username: password}; when set, every connection must pass
        # SASL (PLAIN or SCRAM-SHA-256 via SaslHandshake v1 +
        # SaslAuthenticate v0, the KIP-152 framing) before any data
        # API; an unauthenticated data request closes the connection
        # (the pre-KIP-152 broker behavior, documented in tests)
        self._users = users
        self.default_partitions = default_partitions
        self._logs: dict[tuple[str, int], _PartitionLog] = {}
        self._topics: dict[str, int] = {}  # topic -> n_partitions
        # consumer-group coordinator state (this broker is the
        # coordinator for every group — single node): generation,
        # members, leader, per-member assignments, committed offsets
        self._groups: dict[str, dict] = {}
        from collections import deque

        # (api_key, api_version, request_size_bytes, client_id) per
        # request served; bounded — the wire-gate brokers are cached
        # for the whole session and an unbounded list would grow on
        # every request of every timed repetition
        self.request_log: deque[tuple[int, int, int, str | None]] = deque(
            maxlen=100_000
        )
        # encoded RecordBatch bytes per produce partition-set — lets
        # tests assert the producer's batchBytes request-size cap
        self.produce_set_sizes: deque[int] = deque(maxlen=100_000)
        self._lock = threading.RLock()  # produce auto-creates topics under the lock
        # group-coordination dispatch table built ONCE — it sits in the
        # per-request hot path, and rebuilding it per request would
        # rebind seven bound methods on every incoming frame
        self._GROUP_API_VERSIONS = self._build_group_api_versions()
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                sock = self.request
                conn = {"authed": broker._users is None, "scram": None,
                        "mech": None}
                while True:
                    hdr = _recv_exact(sock, 4)
                    if hdr is None:
                        return
                    (size,) = struct.unpack(">i", hdr)
                    body = _recv_exact(sock, size)
                    if body is None:
                        return
                    try:
                        resp = broker._dispatch(body, conn)
                    except _SaslRequired:
                        return  # close: data API before authentication
                    if resp is not None:  # acks=0 produce: no response
                        sock.sendall(struct.pack(">i", len(resp)) + resp)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        if tls is not None:
            from conduit_spark.functions.tlsutil import server_context

            self._server.socket = server_context(
                *tls, client_ca_pem=client_ca
            ).wrap_socket(self._server.socket, server_side=True)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def bootstrap(self) -> str:
        return f"{self.host}:{self.port}"

    def start(self) -> "MiniKafkaBroker":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "MiniKafkaBroker":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()

    def create_topic(self, topic: str, partitions: int | None = None) -> None:
        with self._lock:
            n = partitions or self.default_partitions
            self._topics.setdefault(topic, n)
            for p in range(self._topics[topic]):
                self._logs.setdefault((topic, p), _PartitionLog())

    # -- request dispatch ---------------------------------------------------

    def _dispatch(self, req: bytes, conn: dict | None = None) -> bytes | None:
        conn = conn if conn is not None else {"authed": True}
        r = _Reader(req)
        api_key = r.i16()
        api_version = r.i16()
        correlation_id = r.i32()
        client_id = r.string()
        # Observability for tests: (api_key, api_version, request_size,
        # client_id) per request — lets tests assert batchBytes request
        # caps, negotiated protocol revisions, and that clientID
        # travels on every connection (driver AND executor), like a
        # real broker's request log would show.
        self.request_log.append((api_key, api_version, len(req), client_id))
        if api_key == API_SASL_HANDSHAKE and api_version == 1:
            return struct.pack(">i", correlation_id) + self._sasl_handshake(
                r, conn
            )
        if api_key == API_SASL_AUTHENTICATE and api_version == 0:
            return struct.pack(">i", correlation_id) + self._sasl_authenticate(
                r, conn
            )
        if not conn.get("authed") and api_key != API_VERSIONS:
            raise _SaslRequired(api_key)
        # Produce v3-v9 / Fetch v4-v12 are version-parameterized; v9/v12
        # are the KIP-482 flexible revisions (request header v2 carries
        # a TAG_BUFFER after client_id; response header v1 carries one
        # after correlation_id).
        if api_key == API_PRODUCE and 3 <= api_version <= 9:
            if api_version >= 9:
                r.tags()  # request header v2 TAG_BUFFER
            body_out = self._produce(r, api_version)
            if body_out is None:  # acks=0: the protocol sends NOTHING
                return None
            hdr = struct.pack(">i", correlation_id)
            if api_version >= 9:
                hdr += _TAGS  # response header v1
            return hdr + body_out
        if api_key == API_FETCH and 4 <= api_version <= 12:
            if api_version >= 12:
                r.tags()
            hdr = struct.pack(">i", correlation_id)
            if api_version >= 12:
                hdr += _TAGS
            return hdr + self._fetch(r, api_version)
        # Control plane (round-11): Metadata v1-v9 / ListOffsets v1-v6
        # are version-parameterized like the data plane; v9/v6 are the
        # KIP-482 flexible revisions (request header v2, response
        # header v1).
        if api_key == API_METADATA and 1 <= api_version <= 9:
            if api_version >= 9:
                r.tags()
            hdr = struct.pack(">i", correlation_id)
            if api_version >= 9:
                hdr += _TAGS
            return hdr + self._metadata(r, api_version)
        if api_key == API_LIST_OFFSETS and 1 <= api_version <= 6:
            if api_version >= 6:
                r.tags()
            hdr = struct.pack(">i", correlation_id)
            if api_version >= 6:
                hdr += _TAGS
            return hdr + self._list_offsets(r, api_version)
        # Group-coordination plane (round-12): every API is version-
        # parameterized across its published schema evolution; the top
        # of each range is the KIP-482 flexible revision (request
        # header v2 / response header v1 TAG_BUFFERs); OffsetFetch's
        # top is KIP-709's v8 multi-group batched restructure.
        group = self._GROUP_API_VERSIONS.get(api_key)
        if group and group[0] <= api_version <= group[1]:
            flexible = api_version >= group[2]
            if flexible:
                r.tags()  # request header v2 TAG_BUFFER
            hdr = struct.pack(">i", correlation_id)
            if flexible:
                hdr += _TAGS  # response header v1 TAG_BUFFER
            return hdr + group[3](r, api_version)
        handlers = {
            API_VERSIONS: (0, self._api_versions),
        }
        if api_key == API_VERSIONS and api_version in (1, 2):
            # v1/v2: v0 shape + trailing throttle_time_ms (the range we
            # advertise must be contiguous, so serve every revision in it)
            return (
                struct.pack(">i", correlation_id)
                + struct.pack(">h", ERR_NONE)
                + self._api_versions_table()
                + struct.pack(">i", 0)
            )
        if api_key == API_VERSIONS and api_version == 3:
            # Native service of the revision modern clients open with
            # (franz-go/librdkafka default): request header v2 + compact
            # body (client_software_name/version, KIP-511's metadata).
            # ApiVersionsResponse is PINNED to response header v0 — no
            # header TAG_BUFFER even at v3; the BODY is flexible.
            r.tags()  # request header v2 TAG_BUFFER
            r.compact_string()  # client_software_name
            r.compact_string()  # client_software_version
            r.tags()
            rows = self._api_version_rows()
            body = struct.pack(">h", ERR_NONE) + _w_uvarint(len(rows) + 1)
            for k, lo, hi in rows:
                body += struct.pack(">hhh", k, lo, hi) + _TAGS
            body += struct.pack(">i", 0) + _TAGS  # throttle, body tags
            return struct.pack(">i", correlation_id) + body
        if api_key == API_VERSIONS and api_version != 0:
            # KIP-511 downgrade path for every OTHER unsupported
            # revision — the ONE exchange a client sends before it
            # knows our versions, so the protocol's answer is NOT a
            # dead connection but UNSUPPORTED_VERSION in a v0-SHAPED
            # body that still carries the supported-versions table
            # (ApiVersionsResponse is pinned to response header v0 and
            # clients must parse an over-version reply as v0 — that's
            # what makes the downgrade deterministic). The client then
            # re-sends ApiVersions v0 and proceeds with the revisions
            # we advertise. See docs/architecture-decision-records/
            # 20260815-kafka-wire-nonflexible-scope.md.
            return (
                struct.pack(">i", correlation_id)
                + struct.pack(">h", ERR_UNSUPPORTED_VERSION)
                + self._api_versions_table()
            )
        if api_key not in handlers or api_version != handlers[api_key][0]:
            raise ValueError(
                f"unsupported api_key={api_key} version={api_version}; "
                "this broker speaks ApiVersions v0-v3, Metadata v1-v9, "
                "Produce v3-v9, Fetch v4-v12, ListOffsets v1-v6, "
                "OffsetCommit v2-v8, OffsetFetch v1-v8, "
                "FindCoordinator v0-v4, JoinGroup v0-v6, Heartbeat v0-v4, "
                "LeaveGroup v0-v5, SyncGroup v0-v5"
            )
        body_out = handlers[api_key][1](r)
        if body_out is None:  # acks=0 produce: the protocol sends NOTHING
            return None
        return struct.pack(">i", correlation_id) + body_out

    def _api_version_rows(self) -> list[tuple[int, int, int]]:
        return [(API_PRODUCE, 3, 9), (API_FETCH, 4, 12), (API_LIST_OFFSETS, 1, 6),
                (API_METADATA, 1, 9), (API_VERSIONS, 0, 3),
                (API_OFFSET_COMMIT, 2, 8), (API_OFFSET_FETCH, 1, 8),
                (API_FIND_COORDINATOR, 0, 4), (API_JOIN_GROUP, 0, 6),
                (API_HEARTBEAT, 0, 4), (API_LEAVE_GROUP, 0, 5),
                (API_SYNC_GROUP, 0, 5), (API_SASL_HANDSHAKE, 1, 1),
                (API_SASL_AUTHENTICATE, 0, 0)]

    def _build_group_api_versions(self):
        """Group-coordination dispatch table: api_key -> (lo, hi,
        flexible_from, handler). Built once in ``__init__`` (hot
        path). Tops are the KIP-482 flexible
        revisions — OffsetCommit v8, OffsetFetch v6 (v8 IS served:
        KIP-709's multi-group batched form), FindCoordinator v3
        (capped at v4, the KIP-699 batched-keys revision, which IS
        served), JoinGroup v6, Heartbeat v4, LeaveGroup v4 (v5 adds
        per-member reason), SyncGroup v4 (v5 adds protocol echo)."""
        return {
            API_OFFSET_COMMIT: (2, 8, 8, self._offset_commit),
            API_OFFSET_FETCH: (1, 8, 6, self._offset_fetch),
            API_FIND_COORDINATOR: (0, 4, 3, self._find_coordinator),
            API_JOIN_GROUP: (0, 6, 6, self._join_group),
            API_HEARTBEAT: (0, 4, 4, self._heartbeat),
            API_LEAVE_GROUP: (0, 5, 4, self._leave_group),
            API_SYNC_GROUP: (0, 5, 4, self._sync_group),
        }

    def _api_versions_table(self) -> bytes:
        rows = self._api_version_rows()
        out = struct.pack(">i", len(rows))
        for k, lo, hi in rows:
            out += struct.pack(">hhh", k, lo, hi)
        return out

    def _api_versions(self, r: _Reader) -> bytes:
        return struct.pack(">h", ERR_NONE) + self._api_versions_table()

    # -- SASL (KIP-152 framing: SaslHandshake v1 + SaslAuthenticate v0;
    # mechanisms PLAIN and SCRAM-SHA-256, functions/scram.py) ---------

    SASL_MECHANISMS = ("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512")

    def _sasl_handshake(self, r: _Reader, conn: dict) -> bytes:
        mech = r.string() or ""
        mechs = b"".join(_w_str(m) for m in self.SASL_MECHANISMS)
        listing = struct.pack(">i", len(self.SASL_MECHANISMS)) + mechs
        if mech not in self.SASL_MECHANISMS:
            return struct.pack(">h", ERR_UNSUPPORTED_SASL_MECHANISM) + listing
        conn["mech"] = mech
        conn["scram"] = None
        return struct.pack(">h", ERR_NONE) + listing

    def _sasl_authenticate(self, r: _Reader, conn: dict) -> bytes:
        def resp(err: int, msg: str | None, auth: bytes) -> bytes:
            return struct.pack(">h", err) + _w_str(msg) + _w_bytes(auth)

        if self._users is None:
            # open broker: accept anything (dev mode), like PLAINTEXT
            conn["authed"] = True
            return resp(ERR_NONE, None, b"")
        auth = r.bytes_() or b""
        mech = conn.get("mech")
        if mech == "PLAIN":
            parts = auth.split(b"\x00")
            if len(parts) != 3:
                return resp(
                    ERR_SASL_AUTHENTICATION_FAILED, "malformed PLAIN", b""
                )
            user, password = parts[1].decode(), parts[2].decode()
            if self._users.get(user) != password:
                return resp(
                    ERR_SASL_AUTHENTICATION_FAILED,
                    "authentication failed", b"",
                )
            conn["authed"] = True
            return resp(ERR_NONE, None, b"")
        if mech in ("SCRAM-SHA-256", "SCRAM-SHA-512"):
            from conduit_spark.functions.scram import (
                ScramServer,
                algo_for_mechanism,
            )

            if conn.get("scram") is None:
                conn["scram"] = ScramServer(
                    self._users, algo=algo_for_mechanism(mech)
                )
                try:
                    return resp(
                        ERR_NONE, None,
                        conn["scram"].first(auth.decode()).encode(),
                    )
                except (ValueError, KeyError) as e:
                    return resp(
                        ERR_SASL_AUTHENTICATION_FAILED, str(e), b""
                    )
            final = conn["scram"].final(auth.decode())
            conn["scram"] = None
            if final.startswith("e="):
                return resp(
                    ERR_SASL_AUTHENTICATION_FAILED, final, final.encode()
                )
            conn["authed"] = True
            return resp(ERR_NONE, None, final.encode())
        return resp(
            ERR_ILLEGAL_SASL_STATE, "SaslHandshake required first", b""
        )

    # -- consumer-group coordinator (reference: the kafka source is a
    # consumer-group source, pkg/plugin/connector/builtin/registry.go;
    # franz-go joins/commits against these exact wire shapes) ---------

    def _group(self, gid: str) -> dict:
        return self._groups.setdefault(gid, {
            "generation": 0, "members": {}, "leader": None,
            "protocol": None, "assignments": {}, "offsets": {},
            "counter": 0,
        })

    def _member_check(self, g: dict, generation: int, member: str) -> int:
        """Shared commit/heartbeat validation. Generation -1 with an
        empty member id is the simple-consumer path (real Kafka allows
        offset storage without group membership)."""
        if generation == -1 and not member:
            return ERR_NONE
        if member not in g["members"]:
            return ERR_UNKNOWN_MEMBER_ID
        if generation != g["generation"]:
            return ERR_ILLEGAL_GENERATION
        return ERR_NONE

    def _find_coordinator(self, r: _Reader, version: int = 0) -> bytes:
        """FindCoordinator v0-v4 per the published schema evolution:
        v1 adds key_type (request) + throttle/error_message (response),
        v3 is the KIP-482 flexible revision, v4 is KIP-699's batched
        form (coordinator_keys array in, coordinators array out)."""
        flexible = version >= 3
        if version >= 4:
            r.i8()  # key_type (group = 0; we coordinate all)
            keys = [
                r.compact_string() or "" for _ in range(r.uvarint() - 1)
            ]
            r.tags()
        else:
            keys = [(r.compact_string() if flexible else r.string()) or ""]
            if version >= 1:
                r.i8()  # key_type
            if flexible:
                r.tags()
        me = (
            struct.pack(">i", self.node_id)
            + (_w_compact_str(self.host) if flexible else _w_str(self.host))
            + struct.pack(">i", self.port)
        )
        if version >= 4:
            out = struct.pack(">i", 0)  # throttle_time_ms
            out += _w_uvarint(len(keys) + 1)
            for k in keys:
                out += (
                    _w_compact_str(k)
                    + me
                    + struct.pack(">h", ERR_NONE)
                    + _w_compact_str(None)  # error_message
                    + _TAGS
                )
            return out + _TAGS
        out = b""
        if version >= 1:
            out += struct.pack(">i", 0)  # throttle_time_ms
        out += struct.pack(">h", ERR_NONE)
        if version >= 1:
            out += _w_compact_str(None) if flexible else _w_str(None)
        out += me
        if flexible:
            out += _TAGS
        return out

    def _join_group(self, r: _Reader, version: int = 0) -> bytes:
        """JoinGroup v0-v6: v1 adds rebalance_timeout, v2 adds response
        throttle, v4 adds the KIP-394 empty-member reject (the broker
        assigns an id and answers MEMBER_ID_REQUIRED; the client
        re-joins with it — prevents ghost members from retry storms),
        v5 adds group_instance_id (KIP-345 static membership), v6 is
        the KIP-482 flexible revision."""
        flexible = version >= 6

        def rstr():
            return r.compact_string() if flexible else r.string()

        gid = rstr()
        r.i32()  # session_timeout_ms (no expiry timers in-process)
        if version >= 1:
            r.i32()  # rebalance_timeout_ms
        member = rstr() or ""
        if version >= 5:
            rstr()  # group_instance_id (nullable; dynamic members: null)
        protocol_type = rstr()  # "consumer"
        protocols = []
        for _ in range((r.uvarint() - 1) if flexible else r.i32()):
            name = rstr()
            meta = (r.compact_bytes() if flexible else r.bytes_()) or b""
            if flexible:
                r.tags()
            protocols.append((name, meta))
        if flexible:
            r.tags()

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        def wbytes(x):
            return _w_compact_bytes(x) if flexible else _w_bytes(x)

        tagsb = _TAGS if flexible else b""
        throttle = struct.pack(">i", 0) if version >= 2 else b""
        with self._lock:
            g = self._group(gid)
            if not member:
                g["counter"] += 1
                member = f"{protocol_type or 'member'}-{g['counter']}"
                if version >= 4:
                    # KIP-394: reject the FIRST join of an unknown
                    # member but hand back the assigned id
                    out = (
                        throttle
                        + struct.pack(">h", ERR_MEMBER_ID_REQUIRED)
                        + struct.pack(">i", -1)  # generation_id
                        + wstr("")  # protocol_name
                        + wstr("")  # leader
                        + wstr(member)
                        + (_w_uvarint(1) if flexible
                           else struct.pack(">i", 0))  # members: empty
                    )
                    return out + tagsb
            g["members"][member] = protocols[0][1] if protocols else b""
            if g["leader"] not in g["members"]:
                g["leader"] = member
            g["generation"] += 1
            g["protocol"] = protocols[0][0] if protocols else ""
            g["protocol_type"] = protocol_type or ""
            members = list(g["members"].items())
            out = (
                throttle
                + struct.pack(">h", ERR_NONE)
                + struct.pack(">i", g["generation"])
                + wstr(g["protocol"])
                + wstr(g["leader"])
                + wstr(member)
                + (_w_uvarint(len(members) + 1) if flexible
                   else struct.pack(">i", len(members)))
            )
            for mid, meta in members:
                out += wstr(mid)
                if version >= 5:
                    out += wstr(None)  # group_instance_id
                out += wbytes(meta) + tagsb
            return out + tagsb

    def _sync_group(self, r: _Reader, version: int = 0) -> bytes:
        """SyncGroup v0-v5: v1 adds response throttle, v3 adds
        group_instance_id, v4 is the flexible revision, v5 echoes
        protocol_type/protocol_name both ways (KIP-497 consistency
        check)."""
        flexible = version >= 4

        def rstr():
            return r.compact_string() if flexible else r.string()

        gid = rstr()
        generation = r.i32()
        member = rstr() or ""
        if version >= 3:
            rstr()  # group_instance_id
        if version >= 5:
            rstr()  # protocol_type (nullable; not validated in-process)
            rstr()  # protocol_name
        assignments = {}
        for _ in range((r.uvarint() - 1) if flexible else r.i32()):
            mid = rstr()  # read order matters: id, then blob
            assignments[mid] = (
                r.compact_bytes() if flexible else r.bytes_()
            ) or b""
            if flexible:
                r.tags()
        if flexible:
            r.tags()
        with self._lock:
            g = self._group(gid)
            err = self._member_check(g, generation, member)
            if err == ERR_NONE and assignments:  # the leader's sync
                g["assignments"] = assignments
            mine = g["assignments"].get(member, b"") if err == ERR_NONE else b""
            out = struct.pack(">i", 0) if version >= 1 else b""
            out += struct.pack(">h", err)
            if version >= 5:
                out += _w_compact_str(g.get("protocol_type"))
                out += _w_compact_str(g.get("protocol"))
            out += _w_compact_bytes(mine) if flexible else _w_bytes(mine)
            if flexible:
                out += _TAGS
            return out

    def _heartbeat(self, r: _Reader, version: int = 0) -> bytes:
        """Heartbeat v0-v4: v1 adds response throttle, v3 adds
        group_instance_id, v4 is the flexible revision."""
        flexible = version >= 4

        def rstr():
            return r.compact_string() if flexible else r.string()

        gid = rstr()
        generation = r.i32()
        member = rstr() or ""
        if version >= 3:
            rstr()  # group_instance_id
        if flexible:
            r.tags()
        with self._lock:
            err = self._member_check(self._group(gid), generation, member)
        out = struct.pack(">i", 0) if version >= 1 else b""
        out += struct.pack(">h", err)
        if flexible:
            out += _TAGS
        return out

    def _leave_group(self, r: _Reader, version: int = 0) -> bytes:
        """LeaveGroup v0-v5: v1 adds response throttle, v3 batches
        (members array both ways, per-member error codes — KIP-345),
        v4 is the flexible revision, v5 adds per-member reason."""
        flexible = version >= 4

        def rstr():
            return r.compact_string() if flexible else r.string()

        gid = rstr()
        if version >= 3:
            members = []
            for _ in range((r.uvarint() - 1) if flexible else r.i32()):
                mid = rstr() or ""
                gi = rstr()  # group_instance_id (nullable)
                if version >= 5:
                    rstr()  # reason (nullable)
                if flexible:
                    r.tags()
                members.append((mid, gi))
        else:
            members = [(rstr() or "", None)]
        if flexible:
            r.tags()
        per_member = []
        with self._lock:
            g = self._group(gid)
            removed = 0
            for mid, gi in members:
                if mid not in g["members"]:
                    per_member.append((mid, gi, ERR_UNKNOWN_MEMBER_ID))
                    continue
                del g["members"][mid]
                g["assignments"].pop(mid, None)
                if g["leader"] == mid:
                    g["leader"] = next(iter(g["members"]), None)
                removed += 1
                per_member.append((mid, gi, ERR_NONE))
            # one rebalance per request, however many members left —
            # a real coordinator bumps the generation once for the
            # whole batched KIP-345 leave, not once per member
            if removed:
                g["generation"] += 1
        if version < 3:
            out = struct.pack(">i", 0) if version >= 1 else b""
            return out + struct.pack(">h", per_member[0][2])
        out = struct.pack(">i", 0) + struct.pack(">h", ERR_NONE)
        out += (
            _w_uvarint(len(per_member) + 1) if flexible
            else struct.pack(">i", len(per_member))
        )
        for mid, gi, err in per_member:
            if flexible:
                out += (
                    _w_compact_str(mid) + _w_compact_str(gi)
                    + struct.pack(">h", err) + _TAGS
                )
            else:
                out += _w_str(mid) + _w_str(gi) + struct.pack(">h", err)
        if flexible:
            out += _TAGS
        return out

    def _offset_commit(self, r: _Reader, version: int = 2) -> bytes:
        """OffsetCommit v2-v8: v3 adds response throttle, v5 drops
        retention_time_ms, v6 adds committed_leader_epoch per
        partition, v7 adds group_instance_id, v8 is the flexible
        revision."""
        flexible = version >= 8

        def rstr():
            return r.compact_string() if flexible else r.string()

        def rn():
            return (r.uvarint() - 1) if flexible else r.i32()

        gid = rstr()
        generation = r.i32()
        member = rstr() or ""
        if version >= 7:
            rstr()  # group_instance_id
        if version <= 4:
            r.i64()  # retention_time_ms
        with self._lock:
            g = self._group(gid)
            err = self._member_check(g, generation, member)
            out_topics = []
            for _ in range(rn()):
                topic = rstr()
                parts = []
                for _ in range(rn()):
                    p = r.i32()
                    off = r.i64()
                    if version >= 6:
                        r.i32()  # committed_leader_epoch
                    meta = rstr()
                    if flexible:
                        r.tags()
                    if err == ERR_NONE:
                        g["offsets"][(topic, p)] = (off, meta or "")
                    parts.append((p, err))
                if flexible:
                    r.tags()
                out_topics.append((topic, parts))
        if flexible:
            r.tags()
        out = struct.pack(">i", 0) if version >= 3 else b""
        out += (
            _w_uvarint(len(out_topics) + 1) if flexible
            else struct.pack(">i", len(out_topics))
        )
        for topic, parts in out_topics:
            out += _w_compact_str(topic) if flexible else _w_str(topic)
            out += (
                _w_uvarint(len(parts) + 1) if flexible
                else struct.pack(">i", len(parts))
            )
            for p, e in parts:
                out += struct.pack(">ih", p, e)
                if flexible:
                    out += _TAGS
            if flexible:
                out += _TAGS
        if flexible:
            out += _TAGS
        return out

    def _offset_fetch(self, r: _Reader, version: int = 1) -> bytes:
        """OffsetFetch v1-v8: v2 makes the topics array nullable
        (null = every committed partition) and adds a trailing
        top-level error_code, v3 adds throttle, v5 adds
        committed_leader_epoch, v6 is the flexible revision, v7 adds
        require_stable (KIP-447), v8 is KIP-709's multi-group batched
        restructure (groups array both ways, per-GROUP error codes
        replacing the top-level one)."""
        flexible = version >= 6
        if version >= 8:
            groups = []
            for _ in range(r.uvarint() - 1):
                gid8 = r.compact_string() or ""
                n8 = r.uvarint() - 1
                wanted8 = None
                if n8 >= 0:
                    wanted8 = []
                    for _ in range(n8):
                        topic = r.compact_string() or ""
                        nparts = r.uvarint() - 1
                        wanted8.append(
                            (topic, [r.i32() for _ in range(nparts)])
                        )
                        r.tags()
                r.tags()  # per-group TAG_BUFFER
                groups.append((gid8, wanted8))
            r.i8()  # require_stable (all in-process commits are stable)
            r.tags()
            out = struct.pack(">i", 0)  # throttle_time_ms
            out += _w_uvarint(len(groups) + 1)
            with self._lock:
                for gid8, wanted8 in groups:
                    g = self._group(gid8)
                    if wanted8 is None:  # null topics: everything
                        by_topic: dict[str, list[int]] = {}
                        for t, p in sorted(g["offsets"]):
                            by_topic.setdefault(t, []).append(p)
                        wanted8 = list(by_topic.items())
                    out += _w_compact_str(gid8)
                    out += _w_uvarint(len(wanted8) + 1)
                    for topic, ps in wanted8:
                        out += _w_compact_str(topic)
                        out += _w_uvarint(len(ps) + 1)
                        for p in ps:
                            off, meta = g["offsets"].get(
                                (topic, p), (-1, "")
                            )
                            out += struct.pack(">iq", p, off)
                            out += struct.pack(">i", -1)  # leader_epoch
                            out += _w_compact_str(meta)
                            out += struct.pack(">h", ERR_NONE) + _TAGS
                        out += _TAGS
                    out += struct.pack(">h", ERR_NONE) + _TAGS  # group err
            return out + _TAGS

        def rstr():
            return r.compact_string() if flexible else r.string()

        gid = rstr()
        n = (r.uvarint() - 1) if flexible else r.i32()
        wanted: list[tuple[str, list[int]]] | None = None
        if n >= 0 or version < 2:
            wanted = []
            for _ in range(max(n, 0)):
                topic = rstr() or ""
                nparts = (r.uvarint() - 1) if flexible else r.i32()
                wanted.append((topic, [r.i32() for _ in range(nparts)]))
                if flexible:
                    r.tags()
        if version >= 7:
            r.i8()  # require_stable (all in-process commits are stable)
        if flexible:
            r.tags()
        with self._lock:
            g = self._group(gid)
            if wanted is None:  # v2+ null topics: everything committed
                by_topic: dict[str, list[int]] = {}
                for t, p in sorted(g["offsets"]):
                    by_topic.setdefault(t, []).append(p)
                wanted = list(by_topic.items())
            out_topics = []
            for topic, ps in wanted:
                parts = []
                for p in ps:
                    off, meta = g["offsets"].get((topic, p), (-1, ""))
                    parts.append((p, off, meta))
                out_topics.append((topic, parts))
        out = struct.pack(">i", 0) if version >= 3 else b""
        out += (
            _w_uvarint(len(out_topics) + 1) if flexible
            else struct.pack(">i", len(out_topics))
        )
        for topic, parts in out_topics:
            out += _w_compact_str(topic) if flexible else _w_str(topic)
            out += (
                _w_uvarint(len(parts) + 1) if flexible
                else struct.pack(">i", len(parts))
            )
            for p, off, meta in parts:
                out += struct.pack(">iq", p, off)
                if version >= 5:
                    out += struct.pack(">i", -1)  # committed_leader_epoch
                out += _w_compact_str(meta) if flexible else _w_str(meta)
                out += struct.pack(">h", ERR_NONE)
                if flexible:
                    out += _TAGS
            if flexible:
                out += _TAGS
        if version >= 2:
            out += struct.pack(">h", ERR_NONE)  # top-level error_code
        if flexible:
            out += _TAGS
        return out

    def _metadata(self, r: _Reader, version: int = 1) -> bytes:
        """Metadata v1-v9 (round-11, VERDICT r10 item 6 — the control
        plane joins the data plane's version range). Request grows:
        allow_auto_topic_creation (v4+), authorized-operations asks
        (v8+), compact/flexible framing (v9, KIP-482). Response grows:
        cluster_id (v2+), throttle_time_ms first (v3+),
        offline_replicas per partition (v5+), leader_epoch (v7+),
        topic/cluster_authorized_operations (v8+, INT32_MIN = "not
        requested"), compact framing + TAG_BUFFERs (v9)."""
        flexible = version >= 9
        if flexible:
            n = r.uvarint() - 1  # compact NULLABLE array: 0 encodes null
            wanted = None
            if n >= 0:
                wanted = []
                for _ in range(n):
                    wanted.append(r.compact_string() or "")
                    r.tags()  # per-topic TAG_BUFFER
        else:
            n = r.i32()
            wanted = None if n < 0 else [r.string() or "" for _ in range(n)]
        allow_auto = True
        if version >= 4:
            allow_auto = bool(r.i8())
        if version >= 8:
            r.i8()  # include_cluster_authorized_operations
            r.i8()  # include_topic_authorized_operations
        if flexible:
            r.tags()
        with self._lock:
            if wanted is not None and allow_auto:
                # Kafka with auto.create.topics.enable=true creates a
                # topic on an explicitly-named metadata request (the
                # all-topics listing never creates; v4+ clients can
                # opt out per request). Without this, a producer that
                # sizes its partitioner from pre-produce metadata
                # would see 0 partitions, route everything to
                # partition 0, then diverge from every later run once
                # the first produce auto-creates default_partitions.
                for t in wanted:
                    if t not in self._topics:
                        self.create_topic(t)
            topics = dict(self._topics) if wanted is None else {
                t: self._topics.get(t, 0) for t in wanted
            }

        def s(x: str | None) -> bytes:
            return _w_compact_str(x) if flexible else _w_str(x)

        def arr(k: int) -> bytes:
            return _w_uvarint(k + 1) if flexible else struct.pack(">i", k)

        tagsb = _TAGS if flexible else b""
        out = b""
        if version >= 3:
            out += struct.pack(">i", 0)  # throttle_time_ms
        out += arr(1)  # one broker
        out += struct.pack(">i", self.node_id) + s(self.host)
        out += struct.pack(">i", self.port) + s(None) + tagsb  # rack
        if version >= 2:
            out += s("minikafka")  # cluster_id
        out += struct.pack(">i", self.node_id)  # controller_id
        out += arr(len(topics))
        for t, n_parts in topics.items():
            err = ERR_NONE if n_parts else ERR_UNKNOWN_TOPIC_OR_PARTITION
            out += struct.pack(">h", err) + s(t) + struct.pack(">?", False)
            out += arr(n_parts)
            for p in range(n_parts):
                out += struct.pack(">hii", ERR_NONE, p, self.node_id)
                if version >= 7:
                    out += struct.pack(">i", 0)  # leader_epoch
                out += arr(1) + struct.pack(">i", self.node_id)  # replicas
                out += arr(1) + struct.pack(">i", self.node_id)  # isr
                if version >= 5:
                    out += arr(0)  # offline_replicas
                out += tagsb
            if version >= 8:
                out += struct.pack(">i", -(2**31))  # topic_authorized_operations
            out += tagsb
        if version >= 8:
            out += struct.pack(">i", -(2**31))  # cluster_authorized_operations
        out += tagsb
        return out

    def _produce(self, r: _Reader, version: int = 3) -> bytes | None:
        """Produce v3-v9. The REQUEST layout is identical v3-v8
        (transactional_id, acks, timeout, topics); v9 is the KIP-482
        flexible revision (compact strings/bytes/arrays + TAG_BUFFERs).
        Response grows per the published schema: v5+ adds
        log_start_offset, v8+ adds record_errors + error_message, v9
        goes compact. throttle_time_ms stays LAST for Produce."""
        flexible = version >= 9
        if flexible:
            r.compact_string()  # transactional_id
        else:
            r.string()
        acks = r.i16()
        r.i32()  # timeout_ms
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        out_topics = b""
        for _ in range(n_topics):
            topic = (r.compact_string() if flexible else r.string()) or ""
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            part_out = b""
            for _ in range(n_parts):
                partition = r.i32()
                record_set = (
                    r.compact_bytes() if flexible else r.bytes_()
                ) or b""
                if flexible:
                    r.tags()  # per-partition request TAG_BUFFER
                self.produce_set_sizes.append(len(record_set))
                with self._lock:
                    if topic not in self._topics:
                        self.create_topic(topic)
                    log = self._logs.get((topic, partition))
                    if log is None:
                        err, base = ERR_UNKNOWN_TOPIC_OR_PARTITION, -1
                    else:
                        err, base = ERR_NONE, log.append(record_set)
                part_out += struct.pack(">ihqq", partition, err, base, -1)
                if version >= 5:
                    part_out += struct.pack(">q", 0)  # log_start_offset
                if version >= 8:
                    if flexible:
                        part_out += _w_uvarint(1)  # record_errors: empty
                        part_out += _w_compact_str(None)  # error_message
                        part_out += _TAGS
                    else:
                        part_out += struct.pack(">i", 0) + _w_str(None)
            if flexible:
                r.tags()  # per-topic request TAG_BUFFER
                out_topics += (
                    _w_compact_str(topic)
                    + _w_uvarint(n_parts + 1)
                    + part_out
                    + _TAGS
                )
            else:
                out_topics += _w_str(topic) + struct.pack(">i", n_parts) + part_out
        if flexible:
            r.tags()  # top-level request TAG_BUFFER
        if acks == 0:
            # fire-and-forget: a real broker sends NO produce response
            # for acks=0 (the request has no means of correlation) —
            # the append above still happened
            return None
        if flexible:
            return (
                _w_uvarint(n_topics + 1)
                + out_topics
                + struct.pack(">i", 0)
                + _TAGS
            )
        # Produce is the one API with throttle_time_ms LAST (v1-v8)
        return struct.pack(">i", n_topics) + out_topics + struct.pack(">i", 0)

    def _fetch(self, r: _Reader, version: int = 4) -> bytes:
        """Fetch v4-v12 per the published schema evolution: v5 adds
        log_start_offset (both sides), v7 adds incremental-session
        fields (session_id/epoch + forgotten_topics + top-level
        error_code/session_id — this broker serves every fetch as a
        full, sessionless response: session_id 0, KIP-227's stateless
        fallback), v9 adds current_leader_epoch, v11 adds rack_id +
        preferred_read_replica, v12 is the KIP-482 flexible revision
        (compact + TAG_BUFFERs, last_fetched_epoch)."""
        flexible = version >= 12
        r.i32()  # replica_id
        r.i32()  # max_wait_ms
        r.i32()  # min_bytes
        r.i32()  # max_bytes (response-level; per-partition cap honored below)
        r.i8()  # isolation_level
        if version >= 7:
            r.i32()  # session_id
            r.i32()  # session_epoch
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        out = struct.pack(">i", 0)  # throttle_time_ms (first for Fetch)
        if version >= 7:
            out += struct.pack(">hi", ERR_NONE, 0)  # error_code, session_id
        out += _w_uvarint(n_topics + 1) if flexible else struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = (r.compact_string() if flexible else r.string()) or ""
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            if flexible:
                out += _w_compact_str(topic) + _w_uvarint(n_parts + 1)
            else:
                out += _w_str(topic) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                partition = r.i32()
                if version >= 9:
                    r.i32()  # current_leader_epoch
                fetch_offset = r.i64()
                if version >= 12:
                    r.i32()  # last_fetched_epoch
                if version >= 5:
                    r.i64()  # log_start_offset (request side)
                part_max = r.i32()
                if flexible:
                    r.tags()
                with self._lock:
                    log = self._logs.get((topic, partition))
                    if log is None:
                        err, hwm, data = ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, None
                    elif fetch_offset > log.next_offset:
                        err, hwm, data = ERR_OFFSET_OUT_OF_RANGE, log.next_offset, None
                    else:
                        hwm = log.next_offset
                        err = ERR_NONE
                        data = log.read_from(fetch_offset, part_max)
                out += struct.pack(">ihqq", partition, err, hwm, hwm)
                if version >= 5:
                    out += struct.pack(">q", 0)  # log_start_offset
                # aborted_transactions: empty
                out += _w_uvarint(1) if flexible else struct.pack(">i", 0)
                if version >= 11:
                    out += struct.pack(">i", -1)  # preferred_read_replica
                out += _w_compact_bytes(data) if flexible else _w_bytes(data)
                if flexible:
                    out += _TAGS
            if flexible:
                r.tags()  # per-topic request TAG_BUFFER
                out += _TAGS
        if version >= 7:
            # forgotten_topics_data (incremental sessions; we serve
            # full responses, so just consume)
            n_forgot = (r.uvarint() - 1) if flexible else r.i32()
            for _ in range(n_forgot):
                if flexible:
                    r.compact_string()
                    for _ in range(r.uvarint() - 1):
                        r.i32()
                    r.tags()
                else:
                    r.string()
                    for _ in range(r.i32()):
                        r.i32()
        if version >= 11:
            r.compact_string() if flexible else r.string()  # rack_id
        if flexible:
            r.tags()
            out += _TAGS
        return out

    def _list_offsets(self, r: _Reader, version: int = 1) -> bytes:
        """ListOffsets v1-v6 (round-11, VERDICT r10 item 6). Request
        grows: isolation_level (v2+), current_leader_epoch per
        partition (v4+), compact/flexible framing (v6, KIP-482).
        Response grows: throttle_time_ms first (v2+), leader_epoch per
        partition (v4+), compact framing + TAG_BUFFERs (v6)."""
        flexible = version >= 6
        r.i32()  # replica_id
        if version >= 2:
            r.i8()  # isolation_level

        def s(x: str | None) -> bytes:
            return _w_compact_str(x) if flexible else _w_str(x)

        def arr(k: int) -> bytes:
            return _w_uvarint(k + 1) if flexible else struct.pack(">i", k)

        tagsb = _TAGS if flexible else b""
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        out = arr(n_topics)
        for _ in range(n_topics):
            topic = (r.compact_string() if flexible else r.string()) or ""
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            out += s(topic) + arr(n_parts)
            for _ in range(n_parts):
                partition = r.i32()
                if version >= 4:
                    r.i32()  # current_leader_epoch
                ts = r.i64()
                if flexible:
                    r.tags()
                with self._lock:
                    log = self._logs.get((topic, partition))
                    if log is None:
                        out += struct.pack(
                            ">ihqq", partition, ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, -1
                        )
                    else:
                        offset = 0 if ts == EARLIEST else log.next_offset
                        out += struct.pack(">ihqq", partition, ERR_NONE, -1, offset)
                if version >= 4:
                    out += struct.pack(">i", 0)  # leader_epoch
                out += tagsb
            if flexible:
                r.tags()  # per-topic request TAG_BUFFER
            out += tagsb
        if flexible:
            r.tags()  # trailing request-body TAG_BUFFER
        if version >= 2:
            out = struct.pack(">i", 0) + out  # throttle_time_ms FIRST
        return out + tagsb


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        try:
            chunk = sock.recv(n - len(buf))
        except (ConnectionResetError, OSError):
            return None
        if not chunk:
            return None
        buf += chunk
    return buf


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class MiniKafkaClient:
    """Minimal producer/consumer speaking the same five APIs. One
    connection, sequential correlation ids — the shape of one Spark
    task's transport in the wire sink/source."""

    def __init__(
        self,
        bootstrap: str,
        client_id: str = "conduit-spark",
        *,
        sasl: dict | None = None,
        tls_ca: str | None = None,
        tls: bool = False,
        client_cert: str | None = None,
        client_key: str | None = None,
        insecure_skip_verify: bool = False,
    ):
        host, port = bootstrap.rsplit(":", 1)
        self._sock = socket.create_connection((host, int(port)))
        if tls or tls_ca is not None or client_cert is not None:
            from conduit_spark.functions.tlsutil import client_context

            self._sock = client_context(
                tls_ca,
                client_cert_pem=client_cert,
                client_key_pem=client_key,
                insecure_skip_verify=insecure_skip_verify,
            ).wrap_socket(self._sock, server_hostname=host)
        self._client_id = client_id
        self._corr = 0
        # non-flexible floor until negotiate_versions() raises them
        self._produce_version = 3
        self._fetch_version = 4
        self._metadata_version = 1
        self._listoffsets_version = 1
        # group-coordination floors (round-12: all seven negotiate too)
        self._offsetcommit_version = 2
        self._offsetfetch_version = 1
        self._findcoordinator_version = 0
        self._joingroup_version = 0
        self._heartbeat_version = 0
        self._leavegroup_version = 0
        self._syncgroup_version = 0
        if sasl:
            self._sasl_login(
                str(sasl.get("mechanism", "SCRAM-SHA-256")).upper(),
                str(sasl["username"]),
                str(sasl["password"]),
            )

    def _sasl_login(self, mechanism: str, username: str, password: str) -> None:
        """KIP-152 flow: SaslHandshake v1 negotiates the mechanism,
        SaslAuthenticate v0 frames carry the mechanism exchange —
        PLAIN's single message or SCRAM-SHA-256's two round trips
        (with server-signature verification, so a spoofed broker that
        doesn't know the password is detected client-side too)."""
        r = self._call(API_SASL_HANDSHAKE, 1, _w_str(mechanism))
        err = r.i16()
        if err:
            n = r.i32()
            offered = [r.string() for _ in range(n)]
            raise RuntimeError(
                f"SASL mechanism {mechanism!r} rejected (err {err}); "
                f"broker offers {offered}"
            )

        def auth_round(payload: bytes) -> bytes:
            rr = self._call(API_SASL_AUTHENTICATE, 0, _w_bytes(payload))
            e = rr.i16()
            msg = rr.string()
            data = rr.bytes_() or b""
            if e:
                raise RuntimeError(f"SASL authentication failed: {msg}")
            return data

        if mechanism == "PLAIN":
            auth_round(b"\x00" + username.encode() + b"\x00" + password.encode())
            return
        if mechanism in ("SCRAM-SHA-256", "SCRAM-SHA-512"):
            from conduit_spark.functions.scram import (
                ScramClient,
                algo_for_mechanism,
            )

            c = ScramClient(
                username, password, algo=algo_for_mechanism(mechanism)
            )
            server_first = auth_round(c.first().encode()).decode()
            server_final = auth_round(c.final(server_first).encode()).decode()
            c.verify_server(server_final)
            return
        raise ValueError(f"unsupported SASL mechanism {mechanism!r}")

    def close(self) -> None:
        self._sock.close()

    def __enter__(self) -> "MiniKafkaClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _send_noreply(
        self, api_key: int, api_version: int, body: bytes,
        *, flexible: bool = False,
    ) -> None:
        self._corr += 1
        req = (
            struct.pack(">hhi", api_key, api_version, self._corr)
            + _w_str(self._client_id)
            + (_TAGS if flexible else b"")  # request header v2 TAG_BUFFER
            + body
        )
        self._sock.sendall(struct.pack(">i", len(req)) + req)

    def _call(
        self, api_key: int, api_version: int, body: bytes,
        *, flexible: bool = False,
    ) -> _Reader:
        self._corr += 1
        req = (
            struct.pack(">hhi", api_key, api_version, self._corr)
            + _w_str(self._client_id)
            + (_TAGS if flexible else b"")
            + body
        )
        self._sock.sendall(struct.pack(">i", len(req)) + req)
        hdr = _recv_exact(self._sock, 4)
        if hdr is None:
            raise ConnectionError("broker closed the connection")
        (size,) = struct.unpack(">i", hdr)
        resp = _recv_exact(self._sock, size)
        if resp is None:
            raise ConnectionError("truncated response")
        r = _Reader(resp)
        corr = r.i32()
        if corr != self._corr:
            raise ValueError(f"correlation id mismatch: sent {self._corr}, got {corr}")
        if flexible:
            r.tags()  # response header v1 TAG_BUFFER
        return r

    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._call(API_VERSIONS, 0, b"")
        err = r.i16()
        if err:
            raise RuntimeError(f"ApiVersions error {err}")
        out: dict[int, tuple[int, int]] = {}
        for _ in range(r.i32()):
            key = r.i16()
            out[key] = (r.i16(), r.i16())
        return out

    # highest revisions this client can speak (flexible per KIP-482)
    MAX_PRODUCE_VERSION = 9
    MAX_FETCH_VERSION = 12
    MAX_METADATA_VERSION = 9
    MAX_LISTOFFSETS_VERSION = 6
    MAX_OFFSETCOMMIT_VERSION = 8
    MAX_OFFSETFETCH_VERSION = 8
    MAX_FINDCOORDINATOR_VERSION = 4
    MAX_JOINGROUP_VERSION = 6
    MAX_HEARTBEAT_VERSION = 4
    MAX_LEAVEGROUP_VERSION = 5
    MAX_SYNCGROUP_VERSION = 5

    # (api_key, api name, non-flexible floor, client max attr,
    #  negotiated-version slot) — one row per API this client pins
    # after the ApiVersions handshake, franz-go style
    _NEGOTIATED_APIS = (
        (API_PRODUCE, "Produce", 3,
         "MAX_PRODUCE_VERSION", "_produce_version"),
        (API_FETCH, "Fetch", 4, "MAX_FETCH_VERSION", "_fetch_version"),
        (API_METADATA, "Metadata", 1,
         "MAX_METADATA_VERSION", "_metadata_version"),
        (API_LIST_OFFSETS, "ListOffsets", 1,
         "MAX_LISTOFFSETS_VERSION", "_listoffsets_version"),
        (API_OFFSET_COMMIT, "OffsetCommit", 2,
         "MAX_OFFSETCOMMIT_VERSION", "_offsetcommit_version"),
        (API_OFFSET_FETCH, "OffsetFetch", 1,
         "MAX_OFFSETFETCH_VERSION", "_offsetfetch_version"),
        (API_FIND_COORDINATOR, "FindCoordinator", 0,
         "MAX_FINDCOORDINATOR_VERSION", "_findcoordinator_version"),
        (API_JOIN_GROUP, "JoinGroup", 0,
         "MAX_JOINGROUP_VERSION", "_joingroup_version"),
        (API_HEARTBEAT, "Heartbeat", 0,
         "MAX_HEARTBEAT_VERSION", "_heartbeat_version"),
        (API_LEAVE_GROUP, "LeaveGroup", 0,
         "MAX_LEAVEGROUP_VERSION", "_leavegroup_version"),
        (API_SYNC_GROUP, "SyncGroup", 0,
         "MAX_SYNCGROUP_VERSION", "_syncgroup_version"),
    )

    def negotiate_versions(self) -> dict[int, tuple[int, int]]:
        """ApiVersions handshake → pin EVERY api this client speaks
        (data plane, control plane, and — round-12 — all seven
        group-coordination APIs) to the highest mutually supported
        revisions, the franz-go startup flow the reference connector
        rides on. Against this repo's broker that lands on the
        flexible tops (Produce v9, Fetch v12, Metadata v9, ListOffsets
        v6, OffsetCommit v8, OffsetFetch v8 — KIP-709's multi-group
        batched form — FindCoordinator v4,
        JoinGroup v6, Heartbeat v4, LeaveGroup v5, SyncGroup v5);
        against an old broker every slot stays at its non-flexible
        floor. Returns the broker's full version table."""
        # One lo-bound disjoint-range guard per API (round-12: the
        # group-coordination seven negotiate exactly like the data and
        # control planes — modern brokers retire old revisions there
        # too, and franz-go pins all of these the same way).
        table = self.api_versions()
        for api, name, floor, max_attr, slot in self._NEGOTIATED_APIS:
            lo, hi = table.get(api, (floor, floor))
            cap = getattr(self, max_attr)
            picked = max(floor, min(cap, hi))
            if picked < lo:
                raise RuntimeError(
                    f"no mutually supported {name} version: broker serves "
                    f"v{lo}-v{hi}, client speaks up to v{cap}"
                )
            setattr(self, slot, picked)
        return table

    def metadata(
        self, topics: list[str] | None = None, *, version: int | None = None
    ) -> dict:
        """Metadata v1-v9; default rides the negotiated revision (v1
        floor before :meth:`negotiate_versions`, v9 flexible against
        this broker)."""
        version = self._metadata_version if version is None else version
        flexible = version >= 9
        if flexible:
            body = _w_uvarint(0) if topics is None else (
                _w_uvarint(len(topics) + 1)
                + b"".join(_w_compact_str(t) + _TAGS for t in topics)
            )
        else:
            body = struct.pack(">i", -1) if topics is None else (
                struct.pack(">i", len(topics))
                + b"".join(_w_str(t) for t in topics)
            )
        if version >= 4:
            body += struct.pack(">?", True)  # allow_auto_topic_creation
        if version >= 8:
            body += struct.pack(">??", False, False)  # authz-ops asks
        if flexible:
            body += _TAGS
        r = self._call(API_METADATA, version, body, flexible=flexible)

        def rstr() -> str | None:
            return r.compact_string() if flexible else r.string()

        def rn() -> int:
            return (r.uvarint() - 1) if flexible else r.i32()

        if version >= 3:
            r.i32()  # throttle_time_ms
        brokers = []
        for _ in range(rn()):
            node = r.i32()
            host = rstr()
            port = r.i32()
            rack = rstr()
            if flexible:
                r.tags()
            brokers.append({"node_id": node, "host": host, "port": port, "rack": rack})
        if version >= 2:
            rstr()  # cluster_id
        controller = r.i32()
        topics_out = {}
        for _ in range(rn()):
            err = r.i16()
            name = rstr()
            r.i8()  # is_internal bool
            parts = []
            for _ in range(rn()):
                p_err = r.i16()
                idx = r.i32()
                leader = r.i32()
                if version >= 7:
                    r.i32()  # leader_epoch
                replicas = [r.i32() for _ in range(rn())]
                isr = [r.i32() for _ in range(rn())]
                if version >= 5:
                    for _ in range(rn()):
                        r.i32()  # offline_replicas
                if flexible:
                    r.tags()
                parts.append({"error": p_err, "partition": idx, "leader": leader,
                              "replicas": replicas, "isr": isr})
            if version >= 8:
                r.i32()  # topic_authorized_operations
            if flexible:
                r.tags()
            topics_out[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "controller": controller, "topics": topics_out}

    def produce(
        self,
        topic: str,
        partition: int,
        records: list[dict],
        *,
        compression: str | None = None,
        acks: int = -1,
        timeout_ms: int = 30000,
        version: int | None = None,
    ) -> int:
        """Produce at ``version`` (default: the negotiated revision,
        v3 floor / v9 flexible ceiling)."""
        v = self._produce_version if version is None else version
        flexible = v >= 9
        record_set = encode_record_batch(records, compression=compression)
        if flexible:
            body = (
                _w_compact_str(None)  # transactional_id
                + struct.pack(">hi", acks, timeout_ms)
                + _w_uvarint(2) + _w_compact_str(topic)
                + _w_uvarint(2) + struct.pack(">i", partition)
                + _w_compact_bytes(record_set)
                + _TAGS  # partition
                + _TAGS  # topic
                + _TAGS  # request body
            )
        else:
            body = (
                _w_str(None)  # transactional_id
                + struct.pack(">hi", acks, timeout_ms)
                + struct.pack(">i", 1) + _w_str(topic)
                + struct.pack(">i", 1) + struct.pack(">i", partition)
                + _w_bytes(record_set)
            )
        if acks == 0:
            # fire-and-forget: send the frame and do not wait — the
            # broker will not respond (reference destination "acks:
            # none"); base offset is unknowable by design
            self._send_noreply(API_PRODUCE, v, body, flexible=flexible)
            return -1
        r = self._call(API_PRODUCE, v, body, flexible=flexible)
        base_offset = None
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        for _ in range(n_topics):
            r.compact_string() if flexible else r.string()
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            for _ in range(n_parts):
                r.i32()  # partition
                err = r.i16()
                base = r.i64()
                r.i64()  # log_append_time
                if v >= 5:
                    r.i64()  # log_start_offset
                if v >= 8:
                    n_rec_err = (r.uvarint() - 1) if flexible else r.i32()
                    for _ in range(n_rec_err):
                        r.i32()
                        r.compact_string() if flexible else r.string()
                        if flexible:
                            r.tags()
                    r.compact_string() if flexible else r.string()
                if flexible:
                    r.tags()
                if err:
                    raise RuntimeError(f"produce error {err} on {topic}/{partition}")
                base_offset = base
            if flexible:
                r.tags()
        r.i32()  # throttle_time_ms (trailing for Produce)
        return base_offset

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        *,
        max_bytes: int = 16 * 1024 * 1024,
        version: int | None = None,
    ) -> tuple[list[dict], int]:
        """Returns (records, high_watermark); each record carries its
        absolute ``offset`` plus key/value/headers/timestamp."""
        data, hwm = self.fetch_record_set(
            topic, partition, offset, max_bytes=max_bytes, version=version
        )
        records = [r for r in decode_record_batches(data) if r["offset"] >= offset]
        return records, hwm

    def fetch_record_set(
        self,
        topic: str,
        partition: int,
        offset: int,
        *,
        max_bytes: int = 16 * 1024 * 1024,
        version: int | None = None,
    ) -> tuple[bytes, int]:
        """Returns (record set, high_watermark): the partition's
        RecordBatch v2 frames as the broker sent them, undecoded — the
        first frame may start before ``offset``. Speaks the negotiated
        revision by default (v4 floor / v12 flexible ceiling); always a
        full, sessionless fetch (session_id 0, epoch -1 — KIP-227's
        stateless mode)."""
        v = self._fetch_version if version is None else version
        flexible = v >= 12
        body = struct.pack(">iiii", -1, 0, 1, max_bytes)
        body += struct.pack(">b", 0)  # isolation: read_uncommitted
        if v >= 7:
            body += struct.pack(">ii", 0, -1)  # session_id, session_epoch
        # one topic, one partition
        part = struct.pack(">i", partition)
        if v >= 9:
            part += struct.pack(">i", -1)  # current_leader_epoch
        part += struct.pack(">q", offset)
        if v >= 12:
            part += struct.pack(">i", -1)  # last_fetched_epoch
        if v >= 5:
            part += struct.pack(">q", -1)  # log_start_offset
        part += struct.pack(">i", max_bytes)
        if flexible:
            part += _TAGS
            body += (
                _w_uvarint(2) + _w_compact_str(topic)
                + _w_uvarint(2) + part + _TAGS
            )
        else:
            body += (
                struct.pack(">i", 1) + _w_str(topic)
                + struct.pack(">i", 1) + part
            )
        if v >= 7:  # forgotten_topics_data: empty
            body += _w_uvarint(1) if flexible else struct.pack(">i", 0)
        if v >= 11:  # rack_id
            body += _w_compact_str("") if flexible else _w_str("")
        if flexible:
            body += _TAGS
        r = self._call(API_FETCH, v, body, flexible=flexible)
        r.i32()  # throttle
        if v >= 7:
            top_err = r.i16()
            r.i32()  # session_id
            if top_err:
                raise RuntimeError(f"fetch error {top_err} (session level)")
        sets: list[bytes] = []
        hwm = -1
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        for _ in range(n_topics):
            r.compact_string() if flexible else r.string()
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            for _ in range(n_parts):
                r.i32()  # partition
                err = r.i16()
                hwm = r.i64()
                r.i64()  # last_stable_offset
                if v >= 5:
                    r.i64()  # log_start_offset
                n_aborted = (r.uvarint() - 1) if flexible else r.i32()
                for _ in range(max(0, n_aborted)):
                    r.i64(); r.i64()
                    if flexible:
                        r.tags()
                if v >= 11:
                    r.i32()  # preferred_read_replica
                data = r.compact_bytes() if flexible else r.bytes_()
                if flexible:
                    r.tags()
                if err == ERR_OFFSET_OUT_OF_RANGE:
                    continue
                if err:
                    raise RuntimeError(f"fetch error {err} on {topic}/{partition}")
                if data:
                    sets.append(data)
            if flexible:
                r.tags()
        return b"".join(sets), hwm

    # -- consumer-group protocol --------------------------------------

    def find_coordinator(
        self, group_id: str, *, version: int | None = None
    ) -> tuple[int, str, int]:
        """(node_id, host, port) of the group's coordinator.
        FindCoordinator v0-v4; default rides the negotiated revision
        (v0 floor before :meth:`negotiate_versions`, v4 batched
        KIP-699 form against this broker)."""
        version = self._findcoordinator_version if version is None else version
        flexible = version >= 3
        if version >= 4:
            body = (
                struct.pack(">b", 0)  # key_type: group
                + _w_uvarint(2)
                + _w_compact_str(group_id)
                + _TAGS
            )
        else:
            body = (
                _w_compact_str(group_id) if flexible else _w_str(group_id)
            )
            if version >= 1:
                body += struct.pack(">b", 0)  # key_type: group
            if flexible:
                body += _TAGS
        r = self._call(API_FIND_COORDINATOR, version, body, flexible=flexible)
        if version >= 4:
            r.i32()  # throttle
            n = r.uvarint() - 1
            node = host = port = err = None
            for _ in range(n):
                r.compact_string()  # key
                node = r.i32()
                host = r.compact_string()
                port = r.i32()
                err = r.i16()
                r.compact_string()  # error_message
                r.tags()
            if err:
                raise RuntimeError(f"find_coordinator error {err}")
            if node is None:
                # v4 batched form: a conformant broker echoes one
                # coordinator entry per requested key — zero entries
                # means the response is malformed, not "no coordinator"
                raise RuntimeError(
                    "find_coordinator v4 response contained no "
                    "coordinator entry for the requested key"
                )
            return node, host, port
        if version >= 1:
            r.i32()  # throttle
        err = r.i16()
        if version >= 1:
            r.compact_string() if flexible else r.string()  # error_message
        if err:
            raise RuntimeError(f"find_coordinator error {err}")
        node = r.i32()
        host = r.compact_string() if flexible else r.string()
        port = r.i32()
        return node, host, port

    def join_group(
        self,
        group_id: str,
        *,
        member_id: str = "",
        session_timeout_ms: int = 30000,
        protocol_type: str = "consumer",
        protocols: list[tuple[str, bytes]] | None = None,
        version: int | None = None,
    ) -> dict:
        """Join (or re-join) a consumer group; returns generation,
        assigned member id, leader, protocol, and the member list (the
        leader uses it to compute assignments for sync_group).
        JoinGroup v0-v6; default rides the negotiated revision. At
        v4+ an empty member_id triggers the broker's KIP-394
        MEMBER_ID_REQUIRED reject — this client re-joins once with the
        assigned id, exactly like franz-go."""
        version = self._joingroup_version if version is None else version
        flexible = version >= 6
        protos = protocols or [("range", b"")]

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        body = wstr(group_id) + struct.pack(">i", session_timeout_ms)
        if version >= 1:
            body += struct.pack(">i", session_timeout_ms)  # rebalance_timeout
        body += wstr(member_id)
        if version >= 5:
            body += wstr(None)  # group_instance_id (dynamic member)
        body += wstr(protocol_type)
        body += (
            _w_uvarint(len(protos) + 1) if flexible
            else struct.pack(">i", len(protos))
        )
        for name, meta in protos:
            body += wstr(name)
            body += _w_compact_bytes(meta) if flexible else _w_bytes(meta)
            if flexible:
                body += _TAGS
        if flexible:
            body += _TAGS
        r = self._call(API_JOIN_GROUP, version, body, flexible=flexible)
        if version >= 2:
            r.i32()  # throttle
        err = r.i16()

        def rstr():
            return r.compact_string() if flexible else r.string()

        generation = r.i32()
        protocol = rstr()
        leader = rstr()
        me = rstr()
        members = {}
        for _ in range((r.uvarint() - 1) if flexible else r.i32()):
            mid = rstr()  # read order matters: id, then metadata
            if version >= 5:
                rstr()  # group_instance_id
            members[mid] = (
                r.compact_bytes() if flexible else r.bytes_()
            )
            if flexible:
                r.tags()
        if err == ERR_MEMBER_ID_REQUIRED and not member_id and me:
            # KIP-394 second round: re-join with the assigned id
            return self.join_group(
                group_id, member_id=me,
                session_timeout_ms=session_timeout_ms,
                protocol_type=protocol_type, protocols=protocols,
                version=version,
            )
        if err:
            raise RuntimeError(f"join_group error {err}")
        return {
            "generation": generation, "protocol": protocol,
            "leader": leader, "member_id": me, "members": members,
        }

    def sync_group(
        self,
        group_id: str,
        generation: int,
        member_id: str,
        assignments: dict[str, bytes] | None = None,
    ) -> bytes:
        """The leader passes everyone's assignments; followers pass
        none and receive their own."""
        a = assignments or {}
        version = self._syncgroup_version
        flexible = version >= 4

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        body = wstr(group_id) + struct.pack(">i", generation) + wstr(member_id)
        if version >= 3:
            body += wstr(None)  # group_instance_id
        if version >= 5:
            body += wstr(None) + wstr(None)  # protocol_type/name echo
        body += (
            _w_uvarint(len(a) + 1) if flexible
            else struct.pack(">i", len(a))
        )
        for mid, blob in a.items():
            body += wstr(mid)
            body += _w_compact_bytes(blob) if flexible else _w_bytes(blob)
            if flexible:
                body += _TAGS
        if flexible:
            body += _TAGS
        r = self._call(API_SYNC_GROUP, version, body, flexible=flexible)
        if version >= 1:
            r.i32()  # throttle
        err = r.i16()
        if err:
            raise RuntimeError(f"sync_group error {err}")
        if version >= 5:
            r.compact_string()  # protocol_type
            r.compact_string()  # protocol_name
        return (r.compact_bytes() if flexible else r.bytes_()) or b""

    def heartbeat(self, group_id: str, generation: int, member_id: str) -> None:
        version = self._heartbeat_version
        flexible = version >= 4

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        body = wstr(group_id) + struct.pack(">i", generation) + wstr(member_id)
        if version >= 3:
            body += wstr(None)  # group_instance_id
        if flexible:
            body += _TAGS
        r = self._call(API_HEARTBEAT, version, body, flexible=flexible)
        if version >= 1:
            r.i32()  # throttle
        err = r.i16()
        if err:
            raise RuntimeError(f"heartbeat error {err}")

    def leave_group(self, group_id: str, member_id: str) -> None:
        version = self._leavegroup_version
        flexible = version >= 4

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        body = wstr(group_id)
        if version >= 3:
            body += _w_uvarint(2) if flexible else struct.pack(">i", 1)
            body += wstr(member_id) + wstr(None)  # group_instance_id
            if version >= 5:
                body += wstr(None)  # reason
            if flexible:
                body += _TAGS
        else:
            body += wstr(member_id)
        if flexible:
            body += _TAGS
        r = self._call(API_LEAVE_GROUP, version, body, flexible=flexible)
        if version >= 1:
            r.i32()  # throttle
        err = r.i16()
        if err:
            raise RuntimeError(f"leave_group error {err}")
        if version >= 3:
            for _ in range((r.uvarint() - 1) if flexible else r.i32()):
                r.compact_string() if flexible else r.string()  # member
                r.compact_string() if flexible else r.string()  # instance
                m_err = r.i16()
                if flexible:
                    r.tags()
                if m_err:
                    raise RuntimeError(f"leave_group member error {m_err}")

    def offset_commit(
        self,
        group_id: str,
        offsets: dict[tuple[str, int], int],
        *,
        generation: int = -1,
        member_id: str = "",
        metadata: str = "",
    ) -> None:
        """Commit next-to-read offsets. Default generation -1 + empty
        member is the simple-consumer path; group members pass their
        join_group generation/member and a stale generation refuses
        (ILLEGAL_GENERATION) — commits cannot cross a rebalance."""
        version = self._offsetcommit_version
        flexible = version >= 8

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        def warr(k):
            return _w_uvarint(k + 1) if flexible else struct.pack(">i", k)

        topics: dict[str, list[tuple[int, int]]] = {}
        for (t, p), off in offsets.items():
            topics.setdefault(t, []).append((p, off))
        body = wstr(group_id) + struct.pack(">i", generation) + wstr(member_id)
        if version >= 7:
            body += wstr(None)  # group_instance_id
        if version <= 4:
            body += struct.pack(">q", -1)  # retention: broker default
        body += warr(len(topics))
        for t, parts in topics.items():
            body += wstr(t) + warr(len(parts))
            for p, off in parts:
                body += struct.pack(">iq", p, off)
                if version >= 6:
                    body += struct.pack(">i", -1)  # committed_leader_epoch
                body += wstr(metadata)
                if flexible:
                    body += _TAGS
            if flexible:
                body += _TAGS
        if flexible:
            body += _TAGS
        r = self._call(API_OFFSET_COMMIT, version, body, flexible=flexible)
        if version >= 3:
            r.i32()  # throttle
        for _ in range((r.uvarint() - 1) if flexible else r.i32()):
            r.compact_string() if flexible else r.string()
            for _ in range((r.uvarint() - 1) if flexible else r.i32()):
                r.i32()
                err = r.i16()
                if flexible:
                    r.tags()
                if err:
                    raise RuntimeError(f"offset_commit error {err}")
            if flexible:
                r.tags()

    def offset_fetch(
        self, group_id: str, parts: list[tuple[str, int]]
    ) -> dict[tuple[str, int], int]:
        """Committed offsets for (topic, partition) pairs; -1 when the
        group has no commit there."""
        version = self._offsetfetch_version
        flexible = version >= 6

        def wstr(x):
            return _w_compact_str(x) if flexible else _w_str(x)

        topics: dict[str, list[int]] = {}
        for t, p in parts:
            topics.setdefault(t, []).append(p)
        if version >= 8:
            # KIP-709 batched form: this simple consumer sends one group
            body = _w_uvarint(2) + _w_compact_str(group_id)
            body += _w_uvarint(len(topics) + 1)
            for t, ps in topics.items():
                body += _w_compact_str(t) + _w_uvarint(len(ps) + 1)
                for p in ps:
                    body += struct.pack(">i", p)
                body += _TAGS
            body += _TAGS  # per-group TAG_BUFFER
            body += struct.pack(">b", 0) + _TAGS  # require_stable, body tags
            r = self._call(API_OFFSET_FETCH, version, body, flexible=True)
            r.i32()  # throttle
            out: dict[tuple[str, int], int] = {}
            for _ in range(r.uvarint() - 1):
                r.compact_string()  # group_id
                for _ in range(r.uvarint() - 1):
                    t = r.compact_string()
                    for _ in range(r.uvarint() - 1):
                        p = r.i32()
                        off = r.i64()
                        r.i32()  # committed_leader_epoch
                        r.compact_string()  # metadata
                        err = r.i16()
                        r.tags()
                        if err:
                            raise RuntimeError(f"offset_fetch error {err}")
                        out[(t, p)] = off
                    r.tags()
                g_err = r.i16()
                r.tags()
                if g_err:
                    raise RuntimeError(f"offset_fetch group error {g_err}")
            return out
        body = wstr(group_id)
        body += (
            _w_uvarint(len(topics) + 1) if flexible
            else struct.pack(">i", len(topics))
        )
        for t, ps in topics.items():
            body += wstr(t)
            body += (
                _w_uvarint(len(ps) + 1) if flexible
                else struct.pack(">i", len(ps))
            )
            for p in ps:
                body += struct.pack(">i", p)
            if flexible:
                body += _TAGS
        if version >= 7:
            body += struct.pack(">b", 0)  # require_stable
        if flexible:
            body += _TAGS
        r = self._call(API_OFFSET_FETCH, version, body, flexible=flexible)
        if version >= 3:
            r.i32()  # throttle
        out: dict[tuple[str, int], int] = {}
        for _ in range((r.uvarint() - 1) if flexible else r.i32()):
            t = r.compact_string() if flexible else r.string()
            for _ in range((r.uvarint() - 1) if flexible else r.i32()):
                p = r.i32()
                off = r.i64()
                if version >= 5:
                    r.i32()  # committed_leader_epoch
                r.compact_string() if flexible else r.string()  # metadata
                err = r.i16()
                if flexible:
                    r.tags()
                if err:
                    raise RuntimeError(f"offset_fetch error {err}")
                out[(t, p)] = off
            if flexible:
                r.tags()
        if version >= 2:
            err = r.i16()  # top-level error_code
            if err:
                raise RuntimeError(f"offset_fetch group error {err}")
        return out

    def list_offsets(
        self, topic: str, partition: int, timestamp: int = LATEST,
        *, version: int | None = None,
    ) -> int:
        """ListOffsets v1-v6; default rides the negotiated revision
        (v1 floor before :meth:`negotiate_versions`, v6 flexible
        against this broker)."""
        version = self._listoffsets_version if version is None else version
        flexible = version >= 6
        body = struct.pack(">i", -1)  # replica_id
        if version >= 2:
            body += struct.pack(">b", 0)  # isolation_level read_uncommitted
        part = struct.pack(">i", partition)
        if version >= 4:
            part += struct.pack(">i", -1)  # current_leader_epoch
        part += struct.pack(">q", timestamp)
        if flexible:
            part += _TAGS
            body += (
                _w_uvarint(2) + _w_compact_str(topic)
                + _w_uvarint(2) + part + _TAGS + _TAGS
            )
        else:
            body += (
                struct.pack(">i", 1) + _w_str(topic)
                + struct.pack(">i", 1) + part
            )
        r = self._call(API_LIST_OFFSETS, version, body, flexible=flexible)
        if version >= 2:
            r.i32()  # throttle_time_ms
        offset = -1
        n_topics = (r.uvarint() - 1) if flexible else r.i32()
        for _ in range(n_topics):
            r.compact_string() if flexible else r.string()
            n_parts = (r.uvarint() - 1) if flexible else r.i32()
            for _ in range(n_parts):
                r.i32()
                err = r.i16()
                r.i64()  # timestamp
                offset = r.i64()
                if version >= 4:
                    r.i32()  # leader_epoch
                if flexible:
                    r.tags()
                if err:
                    raise RuntimeError(f"list_offsets error {err}")
            if flexible:
                r.tags()
        return offset
