"""Protocol-level verification of ``builtin:s3`` transport=wire.

The sandbox has no S3 endpoint; ``functions.minis3.MiniS3Server``
stands in at the REST-API level (ListObjectsV2 pagination, Range GET,
PutObject ETag, multipart), upgrading the s3 connector from
configuration-level (``apply_s3_conf``) to wire-protocol-level
coverage — the same strategy as ``test_minikafka``.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server


@pytest.fixture()
def s3():
    with MiniS3Server() as srv:
        client = MiniS3Client(srv.endpoint)
        client.create_bucket("bkt")
        yield srv, client


# -- raw protocol ----------------------------------------------------------


def test_put_get_etag_and_head(s3):
    _, c = s3
    data = b"hello s3"
    etag = c.put_object("bkt", "a/b.txt", data, content_type="text/plain")
    assert etag == hashlib.md5(data).hexdigest()
    assert c.get_object("bkt", "a/b.txt") == data
    h = c.head_object("bkt", "a/b.txt")
    assert h["size"] == len(data)
    assert h["etag"] == etag
    assert h["content_type"] == "text/plain"


def test_range_get_variants(s3):
    _, c = s3
    c.put_object("bkt", "r", b"0123456789")
    assert c.get_object("bkt", "r", (2, 5)) == b"2345"
    assert c.get_object("bkt", "r", (8, 99)) == b"89"  # clamped end


def test_list_objects_v2_pagination_and_order(s3):
    _, c = s3
    for i in range(23):
        c.put_object("bkt", f"p/k{i:03d}", b"x" * i)
    c.put_object("bkt", "other/zzz", b"y")
    objs = c.list_objects("bkt", "p/", page_size=5)  # 5 pages
    assert [o["key"] for o in objs] == [f"p/k{i:03d}" for i in range(23)]
    assert [o["size"] for o in objs] == list(range(23))
    # prefix isolation
    assert all(o["key"].startswith("p/") for o in objs)


def test_delete_then_404(s3):
    _, c = s3
    c.put_object("bkt", "gone", b"x")
    c.delete_object("bkt", "gone")
    with pytest.raises(Exception, match="404"):
        c.get_object("bkt", "gone")


def test_multipart_upload_concats_and_etags(s3):
    _, c = s3
    chunks = [b"a" * 100, b"b" * 100, b"c" * 7]
    etag = c.multipart_upload("bkt", "mp", chunks)
    assert etag.endswith("-3")  # AWS multipart ETag scheme
    digests = b"".join(hashlib.md5(p).digest() for p in chunks)
    assert etag == f"{hashlib.md5(digests).hexdigest()}-3"
    assert c.get_object("bkt", "mp") == b"".join(chunks)


# -- Spark wire source/sink ------------------------------------------------


def _wire_read(spark, endpoint, prefix, **settings):
    """Batch read of the ``conduit-s3-wire`` DataSource over bucket bkt."""
    from conduit_spark.sources import pyds

    return pyds.load(
        spark, "conduit-s3-wire",
        {"aws.url": endpoint, "aws.bucket": "bkt", "prefix": prefix, **settings},
    )


def test_wire_source_reads_objects_parallel(spark, s3):
    srv, c = s3
    payloads = {f"in/doc{i:02d}.bin": bytes([i]) * (i + 1) for i in range(12)}
    for k, v in payloads.items():
        c.put_object("bkt", k, v)
    df = _wire_read(spark, srv.endpoint, "in/")
    rows = {r.key: bytes(r.value) for r in df.collect()}
    assert rows == payloads
    sizes = {r.key: r.size for r in df.collect()}
    assert sizes == {k: len(v) for k, v in payloads.items()}


def test_wire_source_chunked_range_fetch(spark, s3):
    """An object above chunk_bytes is assembled from Range slices —
    byte-identical to the original."""
    srv, c = s3
    big = bytes(range(256)) * 1024  # 256 KiB
    c.put_object("bkt", "big/one", big)
    df = _wire_read(spark, srv.endpoint, "big/", chunk_bytes=60_000)
    [row] = df.collect()
    assert bytes(row.value) == big


def test_wire_sink_writes_json_lines_objects(spark, s3):
    srv, c = s3
    from conduit_spark.sources.s3_wire import s3_wire_sink

    df = spark.createDataFrame(
        [(f"k{i}", json.dumps({"n": i})) for i in range(25)],
        "key_json string, payload_after_json string",
    ).repartition(2)
    s3_wire_sink(df, srv.endpoint, "bkt", "out/", fmt="json", buffer_size=10)
    objs = c.list_objects("bkt", "out/")
    assert objs, "sink wrote no objects"
    recs = []
    for o in objs:
        body = c.get_object("bkt", o["key"]).decode()
        recs += [json.loads(ln) for ln in body.splitlines()]
    assert sorted(json.loads(r["payload_after_json"])["n"] for r in recs) == list(
        range(25)
    )
    # buffer_size=10 per partition → no object holds more than 10 records
    for o in objs:
        body = c.get_object("bkt", o["key"]).decode()
        assert len(body.splitlines()) <= 10


def test_wire_sink_parquet_roundtrip(spark, s3):
    srv, c = s3
    import io

    import pyarrow.parquet as pq

    from conduit_spark.sources.s3_wire import s3_wire_sink

    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(7)],
        "key_json string, payload_after_json string",
    ).coalesce(1)
    s3_wire_sink(df, srv.endpoint, "bkt", "pq/", fmt="parquet")
    [obj] = c.list_objects("bkt", "pq/")
    table = pq.read_table(io.BytesIO(c.get_object("bkt", obj["key"])))
    assert sorted(table.column("key_json").to_pylist()) == [
        f"k{i}" for i in range(7)
    ]


# -- registry dispatch (the builtin:s3 plugin surface) ---------------------


def test_pipeline_destination_and_source_wire_transport(spark, s3):
    srv, c = s3
    from conduit_spark.pipeline import registry

    src = spark.createDataFrame(
        [(f"u{i}", json.dumps({"n": i})) for i in range(20)],
        "key_json string, payload_after_json string",
    ).selectExpr(
        "key_json",
        "cast(null as binary) as key_raw",
        "payload_after_json",
        "cast(null as binary) as payload_after_raw",
    )
    settings = {
        "transport": "wire",
        "aws.url": srv.endpoint,
        "aws.bucket": "bkt",
        "prefix": "pipe/",
        "format": "json",
    }
    registry.write_destination(src, "builtin:s3", settings)
    env = registry.build_source(
        spark, "builtin:s3", settings, "s3src", streaming=False
    )
    got = env.collect()
    assert len(got) >= 1  # one object per partition-chunk
    assert {r.operation for r in got} == {"snapshot"}
    recs = []
    for r in got:
        meta = dict(r.metadata)
        assert meta["conduit.source.connector.id"] == "s3src"
        assert meta["s3.bucket"] == "bkt"
        assert bytes(r.position).decode().startswith("bkt/pipe/")
        recs += [
            json.loads(ln)
            for ln in bytes(r.payload_after_raw).decode().splitlines()
        ]
    assert sorted(json.loads(r["payload_after_json"])["n"] for r in recs) == list(
        range(20)
    )


def test_validate_connector_wire_requirements():
    from conduit_spark.pipeline.registry import validate_connector

    errs = validate_connector("source", "builtin:s3", {"transport": "wire"})
    assert any("aws.url" in e for e in errs)
    assert any("aws.bucket" in e for e in errs)
    ok = validate_connector(
        "source",
        "builtin:s3",
        {"transport": "wire", "aws.url": "http://x", "aws.bucket": "b"},
    )
    assert ok == []
    # jvm path still wants `path`
    errs = validate_connector("source", "builtin:s3", {})
    assert any("path" in e for e in errs)


def test_pipeline_runtime_delivery_counts_wire_s3_destination(spark, s3):
    """The s3 wire sink delivers via mapInPandas + a noop Dataset
    write, so the runtime's delivery Observation fires and run_batch
    reports an accurate count (the foreachPartition deadlock class)."""
    srv, c = s3
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    cfg = parse_yaml(
        f"""
version: "2.2"
pipelines:
  - id: s3-rt
    connectors:
      - id: gen
        type: source
        plugin: builtin:generator
        settings:
          recordCount: 40
          format.options: {{id: int, name: string}}
      - id: out
        type: destination
        plugin: builtin:s3
        settings:
          transport: wire
          aws.url: {srv.endpoint}
          aws.bucket: bkt
          prefix: rt/
"""
    )[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.delivered == {"out": 40}
    assert res.nacked == 0
    import json as _json

    total = 0
    for o in c.list_objects("bkt", "rt/"):
        total += len(c.get_object("bkt", o["key"]).decode().splitlines())
    assert total == 40


def test_cdc_polling_cycles_only_fetch_changes(spark, s3):
    """CDC = ListObjects diffing on LastModified: cycle 1 sees the
    snapshot, the marker advances, cycle 2 sees only objects written
    after the marker, an empty cycle returns 0 rows and keeps the
    marker."""
    srv, c = s3

    def cycle(since=""):
        rows = _wire_read(spark, srv.endpoint, "cdc/", **{"cdc.since": since})
        rows = rows.collect()
        return rows, max((r.last_modified for r in rows), default=since)

    for i in range(3):
        c.put_object("bkt", f"cdc/a{i}", f"v{i}".encode())
    rows1, pos1 = cycle()
    assert sorted(r.key for r in rows1) == ["cdc/a0", "cdc/a1", "cdc/a2"]
    assert pos1

    # nothing new → empty batch, marker unchanged
    rows2, pos2 = cycle(pos1)
    assert rows2 == [] and pos2 == pos1

    # two new objects + one overwrite → exactly those three
    c.put_object("bkt", "cdc/b0", b"new0")
    c.put_object("bkt", "cdc/b1", b"new1")
    c.put_object("bkt", "cdc/a1", b"v1-updated")
    rows3, pos3 = cycle(pos1)
    rows = {r.key: bytes(r.value) for r in rows3}
    assert rows == {"cdc/b0": b"new0", "cdc/b1": b"new1", "cdc/a1": b"v1-updated"}
    assert pos3 > pos1


def test_registry_cdc_since_setting(spark, s3):
    srv, c = s3
    from conduit_spark.pipeline import registry

    c.put_object("bkt", "rtc/x", b"one")
    [first] = _wire_read(spark, srv.endpoint, "rtc/").collect()
    pos = first.last_modified
    c.put_object("bkt", "rtc/y", b"two")
    env = registry.build_source(
        spark,
        "builtin:s3",
        {
            "transport": "wire",
            "aws.url": srv.endpoint,
            "aws.bucket": "bkt",
            "prefix": "rtc/",
            "cdc.since": pos,
        },
        "s3cdc",
        streaming=False,
    )
    got = env.collect()
    assert [bytes(r.payload_after_raw) for r in got] == [b"two"]
    assert {r.operation for r in got} == {"create"}
    # the next marker is derivable from the batch itself
    assert max(dict(r.metadata)["s3.lastModified"] for r in got) > pos


# -- property: pagination walk is lossless for arbitrary key sets ----------

from hypothesis import given, settings as hsettings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_keychars = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789/._-", min_size=1, max_size=24
)


@hsettings(max_examples=20, deadline=None)
@given(
    keys=st.sets(_keychars, min_size=1, max_size=40),
    page=st.integers(min_value=1, max_value=7),
)
def test_list_pagination_walk_is_lossless(keys, page):
    """Any key set, any page size: the continuation-token walk returns
    every key exactly once, in lexicographic order."""
    keys = {k.strip("/") for k in keys if k.strip("/")}
    if not keys:
        return
    with MiniS3Server() as srv:
        c = MiniS3Client(srv.endpoint)
        c.create_bucket("p")
        for k in keys:
            c.put_object("p", k, k.encode())
        out = c.list_objects("p", page_size=page)
        assert [o["key"] for o in out] == sorted(keys)
        assert all(o["size"] == len(o["key"].encode()) for o in out)


# -- SigV4 request signing ----------------------------------------------


def test_sigv4_matches_aws_published_example():
    """The AWS General Reference worked example (GET iam ListUsers,
    AKIDEXAMPLE keys, 20150830): canonical-request hash, string to
    sign, and final signature must all match the published values —
    an implementation that canonicalizes anything differently cannot
    produce them."""
    import hashlib as _hashlib
    import hmac as _hmac

    from conduit_spark.functions import sigv4

    headers = {
        "content-type": "application/x-www-form-urlencoded; charset=utf-8",
        "host": "iam.amazonaws.com",
        "x-amz-date": "20150830T123600Z",
    }
    canon, signed = sigv4.canonical_request(
        "GET", "/", "Action=ListUsers&Version=2010-05-08", headers,
        _hashlib.sha256(b"").hexdigest(),
    )
    assert signed == "content-type;host;x-amz-date"
    assert _hashlib.sha256(canon.encode()).hexdigest() == (
        "f536975d06c0309214f805bb90ccff089219ecd68b2577efef23edd43b7e1a59"
    )
    sts = sigv4.string_to_sign(
        "20150830T123600Z", "20150830/us-east-1/iam/aws4_request", canon
    )
    key = sigv4.signing_key(
        "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        "20150830", "us-east-1", "iam",
    )
    assert _hmac.new(key, sts.encode(), _hashlib.sha256).hexdigest() == (
        "5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7"
    )


def test_sigv4_e2e_signed_rountrip_and_rejects():
    """Signing server + signing client: full object round-trip incl.
    Range GET, list, multipart verbs; then the reject paths — no
    credentials, wrong secret, and a payload/signature mismatch all
    get 403 SignatureDoesNotMatch."""
    import urllib.error

    creds = {"AKIDTEST": "secret-squirrel"}
    with MiniS3Server(credentials=creds) as srv:
        c = MiniS3Client(
            srv.endpoint, access_key="AKIDTEST", secret_key="secret-squirrel"
        )
        c.create_bucket("auth")
        data = b"signed payload " * 100
        etag = c.put_object("auth", "a/b.bin", data)
        assert etag == hashlib.md5(data).hexdigest()
        assert c.get_object("auth", "a/b.bin") == data
        assert c.get_object("auth", "a/b.bin", (3, 8)) == data[3:9]
        assert [o["key"] for o in c.list_objects("auth", "a/")] == ["a/b.bin"]
        c.multipart_upload("auth", "mp.bin", [b"x" * 10, b"y" * 10])
        assert c.get_object("auth", "mp.bin") == b"x" * 10 + b"y" * 10

        # anonymous client refused
        anon = MiniS3Client(srv.endpoint)
        with pytest.raises(urllib.error.HTTPError) as e:
            anon.get_object("auth", "a/b.bin")
        assert e.value.code == 403

        # wrong secret refused
        bad = MiniS3Client(
            srv.endpoint, access_key="AKIDTEST", secret_key="wrong"
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            bad.get_object("auth", "a/b.bin")
        assert e.value.code == 403

        # unknown access key refused
        unknown = MiniS3Client(
            srv.endpoint, access_key="AKIDOTHER", secret_key="secret-squirrel"
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            unknown.get_object("auth", "a/b.bin")
        assert e.value.code == 403


def test_sigv4_special_char_keys_sign_once():
    """ADVICE r7 (medium): keys containing a space, '+', '=', or
    non-ASCII must round-trip against a SigV4-ENFORCING server. The
    old _canonical_uri re-quoted the already-encoded wire path
    ('a b' -> 'a%2520b' in the canonical request); the in-repo server
    mirrored the bug so tests passed while real S3/MinIO/R2 would 403.
    The canonical URI is now the once-encoded wire path verbatim for
    service=s3, so a double-encoding regression fails here."""
    from conduit_spark.functions import sigv4

    creds = {"AKIDTEST": "secret-squirrel"}
    with MiniS3Server(credentials=creds) as srv:
        c = MiniS3Client(
            srv.endpoint, access_key="AKIDTEST", secret_key="secret-squirrel"
        )
        c.create_bucket("chars")
        for key in ("a b.txt", "c+d=e.bin", "über/µ.dat", "pre fix/x+y z"):
            c.put_object("chars", key, key.encode())
            assert c.get_object("chars", key) == key.encode(), key
        listed = sorted(o["key"] for o in c.list_objects("chars"))
        assert "a b.txt" in listed and "c+d=e.bin" in listed

    # unit pin: for s3 the canonical URI is the wire path VERBATIM —
    # exactly one level of percent-encoding survives into the
    # canonical request
    canon, _ = sigv4.canonical_request(
        "GET", "/bkt/a%20b%2Bc", "", {"host": "x"}, "e3b0", "s3"
    )
    assert canon.splitlines()[1] == "/bkt/a%20b%2Bc"
    # ...while non-s3 services keep the published double-encode rule
    canon_iam, _ = sigv4.canonical_request(
        "GET", "/a%20b", "", {"host": "x"}, "e3b0", "iam"
    )
    assert canon_iam.splitlines()[1] == "/a%2520b"


def test_sigv4_replay_and_signed_header_hardening():
    """ADVICE r7 (low): verify() enforces AWS's 15-minute freshness
    window on x-amz-date and requires host + x-amz-date to actually be
    SIGNED, so a captured request cannot replay indefinitely and the
    date check can't be satisfied by an unsigned header."""
    from datetime import datetime, timedelta, timezone

    from conduit_spark.functions import sigv4

    creds = {"AK": "sk"}

    def signed(dt: str) -> dict:
        return sigv4.sign(
            "GET", "http://h:1/b/k", {}, b"",
            access_key="AK", secret_key="sk", date_time=dt,
        )

    now = datetime(2026, 8, 15, 12, 0, 0, tzinfo=timezone.utc)
    fresh = now.strftime("%Y%m%dT%H%M%SZ")
    stale = (now - timedelta(hours=2)).strftime("%Y%m%dT%H%M%SZ")

    ok, _ = sigv4.verify(
        "GET", "/b/k", signed(fresh), b"", credentials=creds, now=now
    )
    assert ok
    ok, reason = sigv4.verify(
        "GET", "/b/k", signed(stale), b"", credentials=creds, now=now
    )
    assert not ok and "expired" in reason
    # the stale request IS valid when freshness checking is disabled
    # (fixed-vector mode)
    ok, _ = sigv4.verify(
        "GET", "/b/k", signed(stale), b"",
        credentials=creds, max_skew_seconds=None,
    )
    assert ok

    # a signature that omits x-amz-date from SignedHeaders is refused
    # even if the header itself is present and the signature matches
    hdrs = signed(fresh)
    auth = hdrs["authorization"]
    assert "x-amz-date" in auth
    import hashlib as _hashlib
    import hmac as _hmac

    # re-sign by hand WITHOUT x-amz-date in the signed set
    subset = {"host": "h:1", "x-amz-content-sha256": hdrs["x-amz-content-sha256"]}
    canon, signed_names = sigv4.canonical_request(
        "GET", "/b/k", "", subset, hdrs["x-amz-content-sha256"], "s3"
    )
    scope = f"{fresh[:8]}/us-east-1/s3/aws4_request"
    sig = _hmac.new(
        sigv4.signing_key("sk", fresh[:8], "us-east-1", "s3"),
        sigv4.string_to_sign(fresh, scope, canon).encode(),
        _hashlib.sha256,
    ).hexdigest()
    hdrs["authorization"] = (
        f"{sigv4.ALGORITHM} Credential=AK/{scope}, "
        f"SignedHeaders={signed_names}, Signature={sig}"
    )
    ok, reason = sigv4.verify(
        "GET", "/b/k", hdrs, b"", credentials=creds, now=now
    )
    assert not ok and "must be a signed header" in reason


def test_sigv4_unauthenticated_server_still_open():
    """No credentials on the server -> anonymous and signed clients
    both work (dev mode unchanged)."""
    with MiniS3Server() as srv:
        signed = MiniS3Client(
            srv.endpoint, access_key="AKIDX", secret_key="whatever"
        )
        signed.create_bucket("open")
        signed.put_object("open", "k", b"v")
        anon = MiniS3Client(srv.endpoint)
        assert anon.get_object("open", "k") == b"v"


def test_wire_source_and_sink_signed_end_to_end(spark):
    """Executor-parallel wire reads AND buffered sink writes against a
    SigV4-ENFORCING endpoint: every task signs its own requests
    (listing driver-side, GET/PUT executor-side). The same flow
    without credentials is refused — proving the server really
    enforces and the tasks really sign."""
    from conduit_spark.sources.s3_wire import s3_wire_sink

    creds_srv = {"AKIDWIRE": "wire-secret"}
    creds = {"access_key": "AKIDWIRE", "secret_key": "wire-secret"}
    with MiniS3Server(credentials=creds_srv) as srv:
        c = MiniS3Client(srv.endpoint, **creds)
        c.create_bucket("bkt")
        payloads = {f"in/doc{i:02d}.bin": bytes([i]) * (i + 7) for i in range(9)}
        for k, v in payloads.items():
            c.put_object("bkt", k, v)

        df = _wire_read(
            spark, srv.endpoint, "in/",
            **{"aws.accessKeyId": "AKIDWIRE",
               "aws.secretAccessKey": "wire-secret"},
            chunk_bytes=8,  # force Range reassembly through signing too
        )
        rows = {r.key: bytes(r.value) for r in df.collect()}
        assert rows == payloads

        # unsigned listing refused
        with pytest.raises(Exception, match="HTTP Error 403"):
            _wire_read(spark, srv.endpoint, "in/").collect()

        # signed sink writes objects back
        env = spark.createDataFrame(
            [(f"p{i}", i) for i in range(5)], "position string, n int"
        )
        s3_wire_sink(env, srv.endpoint, "bkt", "out/", creds=creds)
        written = c.list_objects("bkt", "out/")
        assert len(written) >= 1


def test_registry_s3_creds_mapping():
    from conduit_spark.sources.pyds import s3_creds

    assert s3_creds({}) is None
    assert s3_creds({"aws.accessKeyId": "A"}) is None  # needs both halves
    full = s3_creds({
        "aws.accessKeyId": "A", "aws.secretAccessKey": "S",
        "aws.region": "eu-west-1", "aws.sessionToken": "tok",
    })
    assert full == {
        "access_key": "A", "secret_key": "S",
        "region": "eu-west-1", "session_token": "tok",
    }


def test_streaming_wire_s3_destination_batch_scoped_prefixes(spark, tmp_path):
    """Streaming pipeline with an s3 WIRE destination: each micro-batch
    lands under its own batch_id=N/ prefix (pre-r8 this path raised
    KeyError('path'), and without the scoped prefix two batches would
    collide on the deterministic part keys), delivery is exactly-once
    across batches, and a resumed run with the same checkpoint adds
    ONLY the new batch."""
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "f0.txt").write_text("a0\na1\n")
    (src / "f1.txt").write_text("b0\nb1\nb2\n")

    with MiniS3Server() as srv:
        MiniS3Client(srv.endpoint).create_bucket("sbkt")
        cfg = parse_yaml(
            f"""
version: "2.2"
pipelines:
  - id: s3-stream
    connectors:
      - id: files
        type: source
        plugin: builtin:file
        settings:
          path: "{src}"
          format: text
          streaming: "true"
          maxFilesPerTrigger: "1"
      - id: out
        type: destination
        plugin: builtin:s3
        settings:
          transport: wire
          aws.url: {srv.endpoint}
          aws.bucket: sbkt
          prefix: st
"""
        )[0]
        ckpt = str(tmp_path / "ckpt")
        Pipeline(spark, cfg).run_streaming(ckpt, trigger_once=True)
        c = MiniS3Client(srv.endpoint)
        keys = sorted(o["key"] for o in c.list_objects("sbkt", "st/"))
        prefixes = {k.split("/")[1] for k in keys}
        assert prefixes == {"batch_id=0", "batch_id=1"}
        lines = []
        for k in keys:
            lines += c.get_object("sbkt", k).decode().splitlines()
        assert len(lines) == 5  # exactly once across batches

        # resume with new data: only the new batch appears
        (src / "f2.txt").write_text("c0\n")
        Pipeline(spark, cfg).run_streaming(ckpt, trigger_once=True)
        keys2 = sorted(o["key"] for o in c.list_objects("sbkt", "st/"))
        prefixes2 = {k.split("/")[1] for k in keys2}
        assert prefixes2 == {"batch_id=0", "batch_id=1", "batch_id=2"}
        lines2 = []
        for k in keys2:
            lines2 += c.get_object("sbkt", k).decode().splitlines()
        assert len(lines2) == 6
