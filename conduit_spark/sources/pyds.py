"""Wire-transport sources (Python DataSource API, Spark 4): one reader
per transport serves both ``spark.read`` and ``spark.readStream``.

A source is offsets plus "read the range (start, end]"; a batch read
is the same plan over one range, from the stream's initial offset up
to its latest. Planning runs driver-side over metadata only; record
and object bytes move in the executor tasks that ``read`` each
planned partition over their own connection:

- ``conduit-kafka-wire`` — per-topic-partition offset ranges, exactly
  the JVM kafka source's offset model (``{"topic:0": nextOffset}``):
  ``latestOffset`` asks the broker's ListOffsets, ``partitions`` plans
  one InputPartition per topic-partition with a bounded range (the
  KafkaSourceRDD task shape), ``read`` Fetches that range. The
  initial offset is the group's committed offset (``groupId``), else
  earliest, or latest under ``startingOffsets=latest`` /
  ``readFromBeginning=false``.
- ``conduit-s3-wire`` — LastModified watermark offsets
  (``{"since": ts}``): a range is one CDC polling cycle (ListObjects
  diff, metadata only), the changed objects fan out size-balanced
  across input partitions, bytes move with Range chunking. The
  initial offset is ``cdc.since`` (default: the empty marker, i.e.
  the whole prefix), or the current listing under
  ``startingPosition=latest``. Boundary semantics: a range covers
  ``since < LastModified <= until``. Against real S3 (1-second
  LastModified granularity) an object written in the same second as
  ``until`` but after the listing can be skipped permanently — the
  reference's polling source shares this window; run with a prefix
  layout that appends, or accept second-granularity lag (MiniS3's
  monotonic mtimes make the tests exact). Deleted objects are not
  seen (ListObjects diffing only sees what exists; the reference
  documents delete capture as out of scope).

Options are the reference connectors' setting names — the registry
passes a connector's settings through unchanged (:func:`load`), and
DataSource options are case-insensitive. :func:`kafka_sasl`,
:func:`kafka_tls` and :func:`s3_creds` turn them into wire-client
kwargs for these readers, the wire sinks and :func:`commit_group`.

Streams recover from a checkpoint by construction: offsets are plain
JSON dicts the streaming engine persists/replays. Kafka replay is
exactly deterministic (``read`` is a pure function of the offset
range — the log is immutable). S3 replay is AT-LEAST-ONCE with
read-latest semantics: ``partitions`` re-lists the bucket on recovery,
so an object overwritten or deleted between the original attempt and
the replay delivers its newest state (or drops out) rather than the
version the failed batch saw — the same property as the reference's
polling source, which also holds no snapshot of the bucket. Sinks
needing exact replay should key on (key, etag) idempotently.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp long"
)
S3_WIRE_SCHEMA = (
    "key string, value binary, size long, etag string, last_modified string"
)


def _truthy(v) -> bool:
    return str(v).lower() in ("1", "true", "yes")


def kafka_tls(settings) -> dict:
    """Map the reference kafka connector's TLS settings onto
    MiniKafkaClient kwargs: tls.enabled / caCert / clientCert /
    clientKey / insecureSkipVerify (conduit-connector-kafka's parameter
    names, accepted bare or under the ``tls.`` namespace the engine's
    YAML uses). clientCert+clientKey turn on mTLS — the client
    presents its certificate during the handshake."""

    def get(name: str):
        v = settings.get(f"tls.{name}", settings.get(name))
        return str(v) if v is not None else None

    enabled = _truthy(settings.get("tls.enabled", ""))
    ca = get("caCert")
    cert, key = get("clientCert"), get("clientKey")
    skip = _truthy(get("insecureSkipVerify") or "")
    if not enabled and not ca and not cert and not skip:
        return {}
    out: dict = {"tls": True, "tls_ca": ca}
    if cert:
        if not key:
            raise ValueError("kafka tls.clientCert requires tls.clientKey")
        out["client_cert"] = cert
        out["client_key"] = key
    if skip:
        out["insecure_skip_verify"] = True
    return out


def kafka_sasl(settings) -> dict | None:
    """Map the reference kafka connector's SASL settings
    (conduit-connector-kafka: saslMechanism/saslUsername/saslPassword)
    onto the wire client's sasl kwargs; None when unauthenticated."""
    user = settings.get("saslUsername")
    pw = settings.get("saslPassword")
    if not user or pw is None:
        return None
    return {
        "mechanism": str(settings.get("saslMechanism", "SCRAM-SHA-256")),
        "username": str(user),
        "password": str(pw),
    }


def s3_creds(settings) -> dict | None:
    """Map the reference connector's ``aws.*`` credential settings
    (conduit-connector-s3: accessKeyId/secretAccessKey/region/
    sessionToken) onto MiniS3Client's SigV4 kwargs, plus ``tls.caCert``
    (the kafka connector's name) as the pinned CA of an HTTPS endpoint;
    None when neither is set (dev endpoints)."""
    out: dict = {}
    ak = settings.get("aws.accessKeyId")
    sk = settings.get("aws.secretAccessKey")
    if ak and sk:
        out = {"access_key": str(ak), "secret_key": str(sk)}
        if settings.get("aws.region"):
            out["region"] = str(settings["aws.region"])
        if settings.get("aws.sessionToken"):
            out["session_token"] = str(settings["aws.sessionToken"])
    if settings.get("tls.caCert"):
        out["ca_pem"] = str(settings["tls.caCert"])
    return out or None


def commit_group(
    servers: str, group: str, offsets: dict[tuple[str, int], int],
    sasl: dict | None = None, tls: dict | None = None,
) -> None:
    """Commit next-read ``offsets`` (``{(topic, partition): offset}``)
    to consumer group ``group`` under a real membership: join → sync →
    commit with the generation, so a rebalance in between fences the
    commit exactly like a real consumer; then leave, since the engine
    holds no membership between commits. Driver-side O(partitions)
    control traffic only.

    Callers commit what was DELIVERED, never the log end: a stream's
    completed batch end offsets (:meth:`KafkaWireStreamReader.commit`,
    :func:`commit_group_from_checkpoint`), or a batch read's
    :func:`delivered_offsets`."""
    from conduit_spark.functions.minikafka import MiniKafkaClient

    server = str(servers).split(",")[0].strip()
    with MiniKafkaClient(server, sasl=sasl, **(tls or {})) as c:
        g = c.join_group(group)
        me = g["member_id"]
        c.sync_group(group, g["generation"], me, assignments={me: b""})
        c.offset_commit(group, offsets, generation=g["generation"], member_id=me)
        c.leave_group(group, me)


def delivered_offsets(rows) -> dict[tuple[str, int], int]:
    """The next-read offsets of the ``conduit-kafka-wire`` rows a batch
    read delivered — max offset + 1 per (topic, partition) — which the
    read commits with :func:`commit_group` after delivery. Records
    produced after the read stay uncommitted, so the group's next read
    gets them. Takes the delivered rows, not the DataFrame: every
    action on a batch read plans its range afresh."""
    out: dict[tuple[str, int], int] = {}
    for r in rows:
        tp = (r["topic"], int(r["partition"]))
        out[tp] = max(out.get(tp, 0), int(r["offset"]) + 1)
    return out


def _parse_offsets(end: dict, default_topic: str = "") -> dict:
    """``{"topic:partition": offset}`` → ``{(topic, partition): offset}``;
    a bare partition key (pre-multi-topic checkpoint) takes
    ``default_topic``."""
    out = {}
    for key, off in end.items():
        topic, _, p = key.rpartition(":")
        out[(topic or default_topic, int(p))] = int(off)
    return out


class _RangeReader(DataSourceReader):
    """A batch read: the stream reader's plan over one range, from its
    initial offset up to its latest."""

    def __init__(self, stream: DataSourceStreamReader):
        self._stream = stream

    def partitions(self) -> list[InputPartition]:
        s = self._stream
        return s.partitions(s.initialOffset(), s.latestOffset())

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return self._stream.read(partition)


@dataclasses.dataclass
class _KafkaRange(InputPartition):
    topic: str
    partition: int
    start: int
    end: int


class KafkaWireStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self._servers = str(options.get("servers", ""))
        topic = str(options.get("topics", options.get("topic", "")))
        self._topics = [t.strip() for t in topic.split(",") if t.strip()]
        if not self._servers or not self._topics:
            raise ValueError("conduit-kafka-wire needs servers and topic(s)")
        self._server = self._servers.split(",")[0].strip()
        # startingOffsets: earliest (default) | latest — the JVM kafka
        # source's contract; readFromBeginning=false is the reference
        # connector's name for latest. Only the initial offset reads
        # it (a stream's checkpoint owns offsets afterwards).
        start = str(options.get("startingOffsets", "earliest"))
        if start.lower() not in ("earliest", "latest"):
            raise ValueError(
                f"startingOffsets must be earliest|latest, got {start!r}"
            )
        self._start_latest = start.lower() == "latest" or not _truthy(
            options.get("readFromBeginning", "true")
        )
        # groupId: consumer-group mode (the reference's kafka source is
        # a consumer-group source). The initial offset is the group's
        # committed offset (falling back to the starting position
        # where none exists) and every completed stream batch commits
        # back, so a second run sharing the group id resumes after
        # the last commit even with a fresh checkpoint.
        self._group_id = str(options.get("groupId", "")) or None
        self._sasl = kafka_sasl(options)
        self._tls = kafka_tls(options)
        self._client_id = str(options.get("clientID", "conduit-spark"))

    def _client(self):
        from conduit_spark.functions.minikafka import MiniKafkaClient

        c = MiniKafkaClient(
            self._server, client_id=self._client_id, sasl=self._sasl,
            **self._tls,
        )
        # ride the highest mutual Produce/Fetch revisions (KIP-482
        # flexible against this repo's broker), like franz-go does on
        # every fresh connection
        c.negotiate_versions()
        return c

    def _offsets(self, earliest: bool) -> dict:
        # offsets keyed "topic:partition" — the multi-topic analog of
        # the JVM source's per-topic-partition offset map
        from conduit_spark.functions.minikafka import EARLIEST, LATEST

        out: dict = {}
        with self._client() as c:
            md = c.metadata(self._topics)
            for t in self._topics:
                parts = [
                    p["partition"]
                    for p in md["topics"].get(t, {"partitions": []})[
                        "partitions"
                    ]
                ]
                for p in parts:
                    out[f"{t}:{p}"] = c.list_offsets(
                        t, p, EARLIEST if earliest else LATEST
                    )
        return out

    def initialOffset(self) -> dict:  # noqa: N802 — DataSource API
        fallback = self._offsets(earliest=not self._start_latest)
        if self._group_id is None:
            return fallback
        earliest = self._offsets(earliest=True) if self._start_latest else fallback
        parts = list(_parse_offsets(fallback, self._topics[0]))
        with self._client() as c:
            committed = c.offset_fetch(self._group_id, parts)
        # a committed offset below the log start (removed by retention)
        # resumes at the log start
        return {
            f"{t}:{p}": (
                max(committed[(t, p)], earliest[f"{t}:{p}"])
                if committed.get((t, p), -1) >= 0
                else fallback[f"{t}:{p}"]
            )
            for t, p in parts
        }

    def latestOffset(self) -> dict:  # noqa: N802
        return self._offsets(earliest=False)

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        out = []
        for key, hi in end.items():
            topic, _, p = key.rpartition(":")
            if not topic:  # pre-multi-topic checkpoint: bare partition
                topic = self._topics[0]
            lo = int(start.get(key, 0))
            if int(hi) > lo:
                out.append(_KafkaRange(topic, int(p), lo, int(hi)))
        # the engine requires ≥1 partition per batch; an empty batch
        # plans one degenerate range that reads nothing
        return out or [_KafkaRange(self._topics[0], 0, 0, 0)]

    def read(self, part: _KafkaRange) -> Iterator[tuple]:
        if part.end <= part.start:
            return
        with self._client() as c:
            off = part.start
            while off < part.end:
                recs, _hwm = c.fetch(part.topic, part.partition, off)
                if not recs:
                    break
                for r in recs:
                    if r["offset"] >= part.end:
                        return
                    yield (
                        r["key"],
                        r["value"],
                        part.topic,
                        part.partition,
                        r["offset"],
                        r["timestamp"],
                    )
                off = recs[-1]["offset"] + 1

    def commit(self, end: dict) -> None:
        # checkpoint owns in-run progress; with a groupId the batch's
        # end offsets ALSO commit to the group. Without one, broker
        # log retention is the policy. NOTE Spark invokes commit(N)
        # lazily when batch N+1 starts, so a run's FINAL batch is
        # committed by :func:`commit_group_from_checkpoint` after
        # termination (the pipeline runtime calls it; see
        # run_streaming).
        if self._group_id is None or not end:
            return
        commit_group(
            self._servers, self._group_id,
            _parse_offsets(end, self._topics[0]), self._sasl, self._tls,
        )


class KafkaWireDataSource(DataSource):
    """``spark.read``/``spark.readStream.format("conduit-kafka-wire")``
    — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "conduit-kafka-wire"

    def schema(self) -> str:
        return KAFKA_WIRE_SCHEMA

    def reader(self, schema: StructType):
        return _RangeReader(KafkaWireStreamReader(self.options))

    def streamReader(self, schema: StructType):  # noqa: N802
        return KafkaWireStreamReader(self.options)


def _greedy_pack(objs: list[dict], n: int) -> list[list[dict]]:
    """Size-balanced assignment of objects to ``n`` groups: biggest
    objects placed first into the currently-lightest group, so no task
    drags the stage."""
    n = max(1, min(n, len(objs)))
    groups: list[list[dict]] = [[] for _ in range(n)]
    sizes = [0] * n
    for o in sorted(objs, key=lambda o: -o["size"]):
        t = min(range(n), key=sizes.__getitem__)
        sizes[t] += o["size"]
        groups[t].append(o)
    return groups


def _fetch_tasks(objs: list[dict], cap: int) -> int:
    """Fetch-task count from the WORK, not the core count (the same
    rule as input split sizing): a task that fetches under ~8 MB or
    under ~64 small objects is dominated by its own overhead (task
    scheduling + one TCP/TLS handshake + server-side connection
    churn); measured on the wire gate pair, 32 tasks over 300 tiny
    objects ran the whole fetch 8x slower than 8 tasks. Large ranges
    hit the byte target and fan out up to ``cap`` (the session's
    default parallelism, passed by :func:`load`; 0 = no cap)."""
    total_bytes = sum(int(o["size"]) for o in objs)
    n = max(-(-total_bytes // (8 * 1024 * 1024)), -(-len(objs) // 64))
    return min(n, cap) if cap else n


def _range_get(client, bucket: str, key: str, size: int, chunk_bytes: int) -> bytes:
    """GET one object, streaming down in Range slices when it exceeds
    ``chunk_bytes`` — a task never holds more than one slice over the
    buffer it is assembling."""
    if size <= chunk_bytes:
        return client.get_object(bucket, key)
    parts = []
    off = 0
    while off < size:
        end = min(off + chunk_bytes, size) - 1
        parts.append(client.get_object(bucket, key, (off, end)))
        off = end + 1
    return b"".join(parts)


@dataclasses.dataclass
class _S3Slice(InputPartition):
    objs: list  # [(key, size, etag, last_modified), ...]


class S3WireStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self._endpoint = str(options.get("aws.url", ""))
        self._bucket = str(options.get("aws.bucket", ""))
        if not self._endpoint or not self._bucket:
            raise ValueError("conduit-s3-wire needs aws.url and aws.bucket")
        self._prefix = str(options.get("prefix", ""))
        self._creds = s3_creds(options) or {}
        self._chunk = int(options.get("chunk_bytes", 8 * 1024 * 1024))
        self._max_tasks = int(options.get("fetch_parallelism", 0))
        self._since = str(options.get("cdc.since", ""))
        # startingPosition: earliest (default, snapshot-then-tail) |
        # latest (skip the existing backlog; only objects written
        # after attach flow) — the kafka startingOffsets analog
        start = str(options.get("startingPosition", "earliest"))
        if start.lower() not in ("earliest", "latest"):
            raise ValueError(
                f"startingPosition must be earliest|latest, got {start!r}"
            )
        self._start_latest = start.lower() == "latest"

    _list_cache: tuple[str, list] | None = None

    def _client(self):
        from conduit_spark.functions.minis3 import MiniS3Client

        return MiniS3Client(self._endpoint, **self._creds)

    def _listing(self, until: str) -> list[dict]:
        """The listing behind offset ``until``: latestOffset() hands
        its listing to the partitions() call for the offset it just
        returned (one ListObjects walk per micro-batch, and planning
        stays consistent with that offset); any other range re-lists.
        The handoff is consumed, so the listing is not shipped to the
        read tasks with the reader."""
        cached, self._list_cache = self._list_cache, None
        if cached is not None and cached[0] == until:
            return cached[1]
        return self._client().list_objects(self._bucket, self._prefix)

    def initialOffset(self) -> dict:  # noqa: N802
        if self._start_latest:
            return self.latestOffset()
        return {"since": self._since}

    def latestOffset(self) -> dict:  # noqa: N802
        objs = self._client().list_objects(self._bucket, self._prefix)
        lm = [o["last_modified"] for o in objs if o["last_modified"]]
        until = max(lm, default="")
        self._list_cache = (until, objs)
        return {"since": until}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        since, until = start.get("since", ""), end.get("since", "")
        changed = [
            o
            for o in self._listing(until)
            if o["last_modified"]
            and (not since or o["last_modified"] > since)
            and o["last_modified"] <= until
        ]
        if not changed:
            return [_S3Slice([])]
        return [
            _S3Slice(
                [(o["key"], o["size"], o["etag"], o["last_modified"]) for o in g]
            )
            for g in _greedy_pack(changed, _fetch_tasks(changed, self._max_tasks))
        ]

    def read(self, part: _S3Slice) -> Iterator[tuple]:
        if not part.objs:
            return
        # one client = one persistent keep-alive connection per task
        c = self._client()
        for key, size, etag, lm in part.objs:
            data = _range_get(c, self._bucket, key, int(size), self._chunk)
            yield (key, data, len(data), etag, lm)

    def commit(self, end: dict) -> None:
        pass


class S3WireDataSource(DataSource):
    """``spark.read``/``spark.readStream.format("conduit-s3-wire")`` —
    see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "conduit-s3-wire"

    def schema(self) -> str:
        return S3_WIRE_SCHEMA

    def reader(self, schema: StructType):
        return _RangeReader(S3WireStreamReader(self.options))

    def streamReader(self, schema: StructType):  # noqa: N802
        return S3WireStreamReader(self.options)


def register(spark) -> None:
    """Register both wire data sources on a session, once. The check
    asks the session's own data source manager — no identity cache (an
    ``id(spark)`` key would go stale when a GC'd session's address is
    reused by a new one, silently skipping registration)."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    for source in (KafkaWireDataSource, S3WireDataSource):
        if not manager.dataSourceExists(source.name()):
            spark.dataSource.register(source)


def load(spark, fmt: str, settings: dict, *, streaming: bool = False):
    """``spark.read`` (or ``readStream`` when ``streaming``) of wire
    format ``fmt`` with a connector's ``settings`` as its options —
    batch and streaming differ only in the entry point. The s3 fetch
    cap is the session's default parallelism."""
    register(spark)
    opts = {k: str(v) for k, v in settings.items() if v is not None}
    if fmt == S3WireDataSource.name():
        opts["fetch_parallelism"] = str(spark.sparkContext.defaultParallelism)
    reader = spark.readStream if streaming else spark.read
    return reader.format(fmt).options(**opts).load()


def commit_group_from_checkpoint(
    servers: str, group_id: str, checkpoint_dir: str,
    sasl: dict | None = None, tls: dict | None = None,
) -> dict | None:
    """Commit the LAST COMPLETED batch's end offsets from a Structured
    Streaming checkpoint to a consumer group.

    Spark calls ``DataSourceStreamReader.commit(N)`` only when batch
    N+1 starts, so a run's final batch never reaches the group through
    the reader. The checkpoint itself is the source of truth for what
    completed: ``offsets/N`` holds the planned end offsets and
    ``commits/N`` exists iff batch N finished (sink included). Reading
    those and committing is therefore exactly
    committed-means-delivered — never the log end, which would
    over-commit records produced after the final plan. Called by the
    pipeline runtime after query termination; safe to call any time.

    Returns the committed ``{"topic:partition": offset}`` map, or
    ``None`` when no batch has completed."""
    import json
    import os

    commits_dir = os.path.join(checkpoint_dir, "commits")
    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    try:
        done = sorted(
            int(f) for f in os.listdir(commits_dir) if f.isdigit()
        )
    except OSError:
        done = []
    if not done:
        return None
    try:
        lines = open(
            os.path.join(offsets_dir, str(done[-1])), encoding="utf-8"
        ).read().splitlines()
    except OSError:
        return None
    # offsets file: "v1", then a metadata JSON line, then one offset
    # JSON line per source — pick the kafka-wire-shaped one
    end = None
    for line in lines[1:]:
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and doc and all(
            isinstance(k, str) and ":" in k and str(v).lstrip("-").isdigit()
            for k, v in doc.items()
        ):
            end = doc
            break
    if end is None:
        return None
    commit_group(servers, group_id, _parse_offsets(end), sasl, tls)
    return end
