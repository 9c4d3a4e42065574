"""TLS across the three jar-free wire transports: the in-process
endpoints serve real TLS (self-signed ECDSA cert minted by the trust
core's cryptography dependency), clients PIN the certificate as their
CA with hostname checking ON — so these tests exercise genuine
verification, not CERT_NONE-disabled TLS. Reject paths: a wrong-CA
client and a plaintext client against a TLS port must both fail.
Combined with round-7's SigV4/SASL/SCRAM work this covers the
reference connectors' transport-security settings (kafka SASL_SSL,
https S3 endpoints, postgres sslmode=require)."""

from __future__ import annotations

import ssl

import pytest

from conduit_spark.functions.tlsutil import generate_self_signed


@pytest.fixture(scope="module")
def cert():
    return generate_self_signed()


@pytest.fixture(scope="module")
def other_cert():
    return generate_self_signed(common_name="impostor")


def test_s3_https_pinned_roundtrip_and_rejects(cert, other_cert):
    from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server

    cert_pem, key_pem = cert
    with MiniS3Server(tls=(cert_pem, key_pem)) as srv:
        assert srv.endpoint.startswith("https://")
        c = MiniS3Client(srv.endpoint, ca_pem=cert_pem)
        c.create_bucket("tls")
        c.put_object("tls", "k", b"encrypted bytes")
        assert c.get_object("tls", "k") == b"encrypted bytes"
        assert [o["key"] for o in c.list_objects("tls")] == ["k"]

        # wrong CA: certificate verification must fail
        bad = MiniS3Client(srv.endpoint, ca_pem=other_cert[0])
        with pytest.raises(Exception) as e:
            bad.get_object("tls", "k")
        assert "certificate" in str(e.value).lower() or isinstance(
            e.value, ssl.SSLError
        )

        # plaintext client against the TLS port
        plain = MiniS3Client(srv.endpoint.replace("https://", "http://"))
        with pytest.raises(Exception):
            plain.get_object("tls", "k")


def test_s3_sigv4_over_tls(cert):
    """Auth AND encryption together — the real-endpoint shape."""
    from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server

    cert_pem, key_pem = cert
    with MiniS3Server(
        tls=(cert_pem, key_pem), credentials={"AK": "SK"}
    ) as srv:
        c = MiniS3Client(
            srv.endpoint, ca_pem=cert_pem, access_key="AK", secret_key="SK"
        )
        c.create_bucket("sec")
        c.put_object("sec", "k", b"v")
        assert c.get_object("sec", "k") == b"v"
        anon = MiniS3Client(srv.endpoint, ca_pem=cert_pem)
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as e:
            anon.get_object("sec", "k")
        assert e.value.code == 403


def test_kafka_tls_sasl_ssl_roundtrip_and_rejects(cert, other_cert):
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )

    cert_pem, key_pem = cert
    with MiniKafkaBroker(
        tls=(cert_pem, key_pem), users={"svc": "pw"}
    ) as b:
        b.create_topic("tls-t", partitions=1)
        # SASL_SSL: SCRAM over TLS
        c = MiniKafkaClient(
            b.bootstrap, tls_ca=cert_pem,
            sasl={"mechanism": "SCRAM-SHA-256",
                  "username": "svc", "password": "pw"},
        )
        with c:
            base = c.produce(
                "tls-t", 0, [{"key": b"k", "value": b"v", "timestamp": 1}]
            )
            recs, _ = c.fetch("tls-t", 0, base)
            assert recs[0]["value"] == b"v"
        # wrong CA
        with pytest.raises(ssl.SSLError):
            MiniKafkaClient(b.bootstrap, tls_ca=other_cert[0])
        # plaintext client against the TLS port: the broker can't parse
        # the handshake as a Kafka frame; connection errors out
        with pytest.raises(Exception):
            MiniKafkaClient(b.bootstrap).api_versions()


def test_postgres_starttls_scram_stream_and_rejects(cert, other_cert):
    from conduit_spark.functions.minipg import MiniPGServer, ReplicationClient

    cert_pem, key_pem = cert
    with MiniPGServer(
        tls=(cert_pem, key_pem), users={"conduit": "pw"}
    ) as srv:
        lsn = srv.feed('{"action":"I"}')
        with ReplicationClient(
            srv.dsn, password="pw", sslmode="require", ssl_ca=cert_pem
        ) as c:
            frames = c.start_replication(0)
            got, payload = next(frames)
            assert got == lsn and b"action" in payload
            c.confirm(lsn)
        # wrong CA
        with pytest.raises(ssl.SSLError):
            ReplicationClient(
                srv.dsn, password="pw", sslmode="require",
                ssl_ca=other_cert[0],
            )


def test_postgres_without_tls_still_answers_N():
    """No server cert: the SSLRequest probe gets 'N' and a plaintext
    session proceeds (libpq sslmode=prefer downgrade)."""
    from conduit_spark.functions.minipg import MiniPGServer, ReplicationClient

    with MiniPGServer() as srv:
        srv.feed("{}")
        with pytest.raises(ConnectionError, match="refused TLS"):
            ReplicationClient(srv.dsn, sslmode="require")
        with ReplicationClient(srv.dsn) as c:  # plaintext still fine
            assert c.identify_system()


def test_kafka_wire_transport_tls_settings_end_to_end(spark, cert):
    """transport=wire + tls.caCert + SASL settings through the
    registry: sink and source tasks each wrap + verify their own TLS
    connections."""
    import json

    from conduit_spark.functions.minikafka import MiniKafkaBroker
    from conduit_spark.pipeline import registry

    cert_pem, key_pem = cert
    with MiniKafkaBroker(tls=(cert_pem, key_pem), users={"svc": "pw"}) as b:
        b.create_topic("tls-pipe", partitions=2)
        settings = {
            "servers": b.bootstrap, "topic": "tls-pipe",
            "transport": "wire", "tls.enabled": "true",
            "tls.caCert": cert_pem, "saslMechanism": "SCRAM-SHA-256",
            "saslUsername": "svc", "saslPassword": "pw",
        }
        src = spark.createDataFrame(
            [(f"u{i}", json.dumps({"n": i})) for i in range(8)],
            "key_json string, payload_after_json string",
        ).selectExpr(
            "key_json",
            "cast(null as binary) as key_raw",
            "payload_after_json",
            "cast(null as binary) as payload_after_raw",
        )
        registry.write_destination(src, "builtin:kafka", settings)
        env = registry.build_source(
            spark, "builtin:kafka", settings, "k", streaming=False
        )
        got = env.collect()
        assert len(got) == 8
        ns = sorted(
            __import__("json").loads(bytes(r.payload_after_raw).decode())["n"]
            for r in got
        )
        assert ns == list(range(8))


# -- mTLS (round 9): the reference kafka connector's clientCert/clientKey --


@pytest.fixture(scope="module")
def client_cert():
    return generate_self_signed(common_name="client")


def test_kafka_mtls_roundtrip_and_rejects(cert, other_cert, client_cert):
    """Broker pins a client CA: a client presenting the matching
    certificate authenticates the CHANNEL (on top of SASL, which
    authenticates the principal); no certificate or a foreign
    certificate fails the handshake."""
    import ssl as _ssl

    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )

    cert_pem, key_pem = cert
    cc_pem, ck_pem = client_cert
    with MiniKafkaBroker(
        tls=(cert_pem, key_pem), client_ca=cc_pem, users={"svc": "pw"}
    ) as b:
        b.create_topic("mtls-t", partitions=1)
        with MiniKafkaClient(
            b.bootstrap, tls_ca=cert_pem,
            client_cert=cc_pem, client_key=ck_pem,
            sasl={"mechanism": "SCRAM-SHA-256",
                  "username": "svc", "password": "pw"},
        ) as c:
            base = c.produce(
                "mtls-t", 0, [{"key": b"k", "value": b"v", "timestamp": 1}]
            )
            recs, _ = c.fetch("mtls-t", 0, base)
            assert recs[0]["value"] == b"v"
        # no client certificate: server aborts the handshake
        with pytest.raises((_ssl.SSLError, ConnectionError, OSError)):
            MiniKafkaClient(b.bootstrap, tls_ca=cert_pem).api_versions()
        # foreign client certificate (not chained to the pinned CA)
        with pytest.raises((_ssl.SSLError, ConnectionError, OSError)):
            MiniKafkaClient(
                b.bootstrap, tls_ca=cert_pem,
                client_cert=other_cert[0], client_key=other_cert[1],
            ).api_versions()


def test_kafka_tls_settings_mapping_client_cert():
    """YAML settings → wire-client kwargs, both the reference's bare
    names (caCert/clientCert/clientKey) and the tls.-namespaced form;
    a cert without its key is a config error, not a silent no-op."""
    from conduit_spark.sources.pyds import kafka_tls

    kw = kafka_tls(
        {"tls.caCert": "CA", "tls.clientCert": "CC", "tls.clientKey": "CK"}
    )
    assert kw == {
        "tls": True, "tls_ca": "CA", "client_cert": "CC", "client_key": "CK"
    }
    kw = kafka_tls({"caCert": "CA", "clientCert": "CC", "clientKey": "CK"})
    assert kw["client_cert"] == "CC" and kw["tls_ca"] == "CA"
    with pytest.raises(ValueError, match="clientKey"):
        kafka_tls({"tls.clientCert": "CC"})
    assert kafka_tls({}) == {}


# -- SCRAM-SHA-512 (round 9): the third saslMechanism inclusion value --


def test_kafka_scram_sha512_over_tls_and_reject(cert):
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )

    cert_pem, key_pem = cert
    with MiniKafkaBroker(tls=(cert_pem, key_pem), users={"u": "s3cret"}) as b:
        b.create_topic("s512-t", partitions=1)
        with MiniKafkaClient(
            b.bootstrap, tls_ca=cert_pem,
            sasl={"mechanism": "SCRAM-SHA-512",
                  "username": "u", "password": "s3cret"},
        ) as c:
            base = c.produce(
                "s512-t", 0, [{"key": None, "value": b"x", "timestamp": 1}]
            )
            recs, _ = c.fetch("s512-t", 0, base)
            assert recs[0]["value"] == b"x"
        with pytest.raises(RuntimeError, match="SASL authentication failed"):
            MiniKafkaClient(
                b.bootstrap, tls_ca=cert_pem,
                sasl={"mechanism": "SCRAM-SHA-512",
                      "username": "u", "password": "wrong"},
            )


def test_scram_sha512_known_answer_from_primitives():
    """SHA-512 has no RFC 7677 worked example; pin the client proof
    against a value computed HERE from hashlib/hmac primitives alone
    (fixed nonces/salt/iterations), independent of scram.py's internal
    composition — a module that mixed hash widths anywhere would
    mismatch."""
    import base64
    import hashlib
    import hmac as _hmac

    from conduit_spark.functions.scram import ScramClient

    salt = b"0123456789abcdef"
    server_first = (
        "r=cnonceSNONCE,s=" + base64.b64encode(salt).decode() + ",i=4096"
    )
    c = ScramClient("user", "pencil", nonce="cnonce", algo="sha512")
    final = c.final(server_first)

    sp = hashlib.pbkdf2_hmac("sha512", b"pencil", salt, 4096)
    ck = _hmac.new(sp, b"Client Key", hashlib.sha512).digest()
    sk = hashlib.sha512(ck).digest()
    auth = (
        "n=user,r=cnonce," + server_first + ",c=biws,r=cnonceSNONCE"
    ).encode()
    sig = _hmac.new(sk, auth, hashlib.sha512).digest()
    proof = bytes(a ^ b for a, b in zip(ck, sig))
    assert final == (
        "c=biws,r=cnonceSNONCE,p=" + base64.b64encode(proof).decode()
    )
    # and the server signature the client will verify
    srv_sig = _hmac.new(
        _hmac.new(sp, b"Server Key", hashlib.sha512).digest(),
        auth, hashlib.sha512,
    ).digest()
    c.verify_server("v=" + base64.b64encode(srv_sig).decode())


def test_kafka_wire_mtls_scram512_settings_end_to_end(spark, cert, client_cert):
    """The full round-9 posture through YAML settings: mTLS
    (clientCert/clientKey) + SCRAM-SHA-512 over TLS, sink then source —
    every executor task presents the client certificate on its own
    connection (the kwargs ship inside the pickled reader)."""
    import json

    from conduit_spark.functions.minikafka import MiniKafkaBroker
    from conduit_spark.pipeline import registry

    cert_pem, key_pem = cert
    cc_pem, ck_pem = client_cert
    with MiniKafkaBroker(
        tls=(cert_pem, key_pem), client_ca=cc_pem, users={"svc": "pw"}
    ) as b:
        b.create_topic("mtls-pipe", partitions=2)
        settings = {
            "servers": b.bootstrap, "topic": "mtls-pipe",
            "transport": "wire",
            "tls.caCert": cert_pem,
            "tls.clientCert": cc_pem, "tls.clientKey": ck_pem,
            "saslMechanism": "SCRAM-SHA-512",
            "saslUsername": "svc", "saslPassword": "pw",
        }
        src = spark.createDataFrame(
            [(f"u{i}", json.dumps({"n": i})) for i in range(6)],
            "key_json string, payload_after_json string",
        ).selectExpr(
            "key_json",
            "cast(null as binary) as key_raw",
            "payload_after_json",
            "cast(null as binary) as payload_after_raw",
        )
        registry.write_destination(src, "builtin:kafka", settings)
        env = registry.build_source(
            spark, "builtin:kafka", settings, "k", streaming=False
        )
        got = env.collect()
        assert len(got) == 6
        ns = sorted(
            json.loads(bytes(r.payload_after_raw).decode())["n"] for r in got
        )
        assert ns == list(range(6))
        # the same settings WITHOUT the client certificate must fail
        # (the broker requires one)
        bad = dict(settings)
        bad.pop("tls.clientCert"); bad.pop("tls.clientKey")
        with pytest.raises(Exception):
            registry.build_source(
                spark, "builtin:kafka", bad, "k", streaming=False
            ).collect()


def test_postgres_walsender_mtls_roundtrip_and_rejects(
    cert, other_cert, client_cert, tmp_path
):
    """libpq-style mTLS on the replication wire: the walsender pins a
    client CA (pg_hba clientcert=verify-ca semantics); a client
    presenting sslcert/sslkey streams normally, one without fails the
    STARTTLS upgrade."""
    import ssl as _ssl

    from conduit_spark.functions.minipg import MiniPGServer, ReplicationClient

    cert_pem, key_pem = cert
    cc_pem, ck_pem = client_cert
    with MiniPGServer(
        tls=(cert_pem, key_pem), client_ca=cc_pem,
        users={"repl": "walpass"},
    ) as srv:
        srv.feed('{"action":"I","table":"t"}')
        c = ReplicationClient(
            srv.dsn, user="repl", password="walpass",
            sslmode="require", ssl_ca=cert_pem,
            sslcert=cc_pem, sslkey=ck_pem,
        )
        gen = c.start_replication(0)
        lsn, payload = next(gen)
        assert b'"action":"I"' in payload
        c.close()
        with pytest.raises((_ssl.SSLError, ConnectionError, OSError)):
            ReplicationClient(
                srv.dsn, user="repl", password="walpass",
                sslmode="require", ssl_ca=cert_pem,
            ).start_replication(0).__next__()
        with pytest.raises((_ssl.SSLError, ConnectionError, OSError)):
            ReplicationClient(
                srv.dsn, user="repl", password="walpass",
                sslmode="require", ssl_ca=cert_pem,
                sslcert=other_cert[0], sslkey=other_cert[1],
            ).start_replication(0).__next__()


def test_postgres_cdc_dsn_settings_reach_wire_client(
    cert, client_cert, tmp_path, spark
):
    """YAML cdc.* auth/TLS settings flow into the live tail's wire
    client: SCRAM + STARTTLS + client certificate, end-to-end into
    capture files and out as envelopes."""
    import json
    import time

    from conduit_spark.functions.minipg import MiniPGServer
    from conduit_spark.pipeline import registry

    cert_pem, key_pem = cert
    cc_pem, ck_pem = client_cert
    cap = str(tmp_path / "cap")
    with MiniPGServer(
        tls=(cert_pem, key_pem), client_ca=cc_pem,
        users={"repl": "walpass"}, keepalive_s=0.05,
    ) as srv:
        for i in range(4):
            srv.feed(json.dumps({
                "action": "I", "schema": "public", "table": "t",
                "columns": [{"name": "id", "type": "integer", "value": i}],
            }))
        settings = {
            "cdc.dsn": srv.dsn, "cdc.path": cap, "cdc.slot": "s9",
            "cdc.user": "repl", "cdc.password": "walpass",
            "cdc.sslmode": "require", "cdc.sslrootcert": cert_pem,
            "cdc.sslcert": cc_pem, "cdc.sslkey": ck_pem,
            "cdc.format": "wal2json",
        }
        # first call starts the live tail (and binds to an empty dir);
        # wait for capture files, then rebuild — the batch DataFrame
        # lists files at build time (the gate query does the same)
        registry.build_source(
            spark, "builtin:postgres", settings, "pg", streaming=False
        )
        import glob

        deadline = time.time() + 15
        while time.time() < deadline and not glob.glob(f"{cap}/wal-*.jsonl"):
            time.sleep(0.2)
        assert glob.glob(f"{cap}/wal-*.jsonl"), "no capture files written"
        env = registry.build_source(
            spark, "builtin:postgres", settings, "pg", streaming=False
        )
        assert env.count() >= 4
        tail = registry._ACTIVE_WAL_TAILS.pop((srv.dsn, "s9", cap))
        tail.stop()


def test_kafka_insecure_skip_verify(cert):
    """The reference's insecureSkipVerify: a client that pins no CA
    connects to a self-signed broker when set (encrypted,
    unauthenticated), and fails verification by default."""
    import ssl as _ssl

    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.sources.pyds import kafka_tls

    cert_pem, key_pem = cert
    with MiniKafkaBroker(tls=(cert_pem, key_pem)) as b:
        b.create_topic("isv-t", partitions=1)
        with MiniKafkaClient(
            b.bootstrap, tls=True, insecure_skip_verify=True
        ) as c:
            base = c.produce(
                "isv-t", 0, [{"key": None, "value": b"v", "timestamp": 1}]
            )
            recs, _ = c.fetch("isv-t", 0, base)
            assert recs[0]["value"] == b"v"
        # default: self-signed cert is NOT in the system trust store
        with pytest.raises(_ssl.SSLError):
            MiniKafkaClient(b.bootstrap, tls=True).api_versions()
    assert kafka_tls({"insecureSkipVerify": "true"}) == {
        "tls": True, "tls_ca": None, "insecure_skip_verify": True
    }


# -- streaming wire sources get the connector's security settings ------


def _stream_to_parquet(spark, env, tmp_path):
    q = (
        env.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.read.parquet(str(tmp_path / "out")).collect()


@pytest.mark.parametrize("trust", ["tls.caCert", "tls.insecureSkipVerify"])
def test_streaming_kafka_wire_source_gets_security_settings(
    spark, cert, client_cert, tmp_path, trust
):
    """A streaming builtin:kafka wire source connects with the
    connector's SASL, TLS and mTLS settings — pinning the CA, or
    skipping verification under insecureSkipVerify — and reads every
    record of a SASL_SSL broker that requires client certificates."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline import registry

    cert_pem, key_pem = cert
    cc_pem, ck_pem = client_cert
    with MiniKafkaBroker(
        tls=(cert_pem, key_pem), client_ca=cc_pem, users={"svc": "pw"}
    ) as b:
        b.create_topic("sec-stream", partitions=2)
        with MiniKafkaClient(
            b.bootstrap,
            sasl={"mechanism": "SCRAM-SHA-256", "username": "svc",
                  "password": "pw"},
            tls_ca=cert_pem, client_cert=cc_pem, client_key=ck_pem,
        ) as c:
            for i in range(10):
                c.produce("sec-stream", i % 2, [
                    {"key": None, "value": b"v%d" % i, "timestamp": 1}
                ])
        settings = {
            "servers": b.bootstrap, "topic": "sec-stream",
            "transport": "wire",
            "saslUsername": "svc", "saslPassword": "pw",
            "tls.clientCert": cc_pem, "tls.clientKey": ck_pem,
            trust: cert_pem if trust == "tls.caCert" else "true",
        }
        env = registry.build_source(
            spark, "builtin:kafka", settings, "k", streaming=True
        )
        got = _stream_to_parquet(spark, env, tmp_path)
    assert sorted(bytes(r.payload_after_raw) for r in got) == sorted(
        b"v%d" % i for i in range(10)
    )


def test_streaming_s3_wire_source_gets_credentials(spark, cert, tmp_path):
    """A streaming builtin:s3 wire source signs with the connector's
    aws.* credentials against a SigV4-enforcing HTTPS endpoint and
    reads every object; the stream reader carries the session token
    and region too."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from conduit_spark.functions.minis3 import MiniS3Client, MiniS3Server
    from conduit_spark.pipeline import registry
    from conduit_spark.sources.pyds import S3WireStreamReader

    cert_pem, key_pem = cert
    with MiniS3Server(
        tls=(cert_pem, key_pem), credentials={"AK": "SK"}
    ) as srv:
        c = MiniS3Client(
            srv.endpoint, ca_pem=cert_pem, access_key="AK", secret_key="SK"
        )
        c.create_bucket("sec")
        for i in range(5):
            c.put_object("sec", f"in/k{i}", b"data%d" % i)
        settings = {
            "transport": "wire", "aws.url": srv.endpoint,
            "aws.bucket": "sec", "prefix": "in/",
            "aws.accessKeyId": "AK", "aws.secretAccessKey": "SK",
            "aws.region": "eu-west-1", "aws.sessionToken": "tok",
            "tls.caCert": cert_pem,
        }
        env = registry.build_source(
            spark, "builtin:s3", settings, "s3", streaming=True
        )
        got = _stream_to_parquet(spark, env, tmp_path)
    assert sorted(bytes(r.payload_after_raw) for r in got) == [
        b"data%d" % i for i in range(5)
    ]
    reader = S3WireStreamReader(CaseInsensitiveDict(settings))
    assert reader._creds == {
        "access_key": "AK", "secret_key": "SK", "region": "eu-west-1",
        "session_token": "tok", "ca_pem": cert_pem,
    }


def test_pipeline_commits_group_over_tls(spark, cert, tmp_path):
    """A streaming pipeline over a SASL_SSL broker with a groupId
    commits its final batch to the group after the run: the
    runtime's checkpoint commit connects with the source's TLS
    settings, not only its SASL ones."""
    from conduit_spark.functions.minikafka import (
        MiniKafkaBroker,
        MiniKafkaClient,
    )
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    cert_pem, key_pem = cert
    sasl = {"mechanism": "SCRAM-SHA-256", "username": "svc", "password": "pw"}
    with MiniKafkaBroker(tls=(cert_pem, key_pem), users={"svc": "pw"}) as b:
        b.create_topic("tls-group", partitions=1)
        with MiniKafkaClient(b.bootstrap, sasl=sasl, tls_ca=cert_pem) as c:
            c.produce("tls-group", 0, [
                {"key": None, "value": b"r%d" % i, "timestamp": 1}
                for i in range(3)
            ])
        cfg = parse_yaml(f"""
version: "2.2"
pipelines:
  - id: tls-group-pipe
    connectors:
      - id: src
        type: source
        plugin: builtin:kafka
        settings:
          servers: "{b.bootstrap}"
          topic: tls-group
          transport: wire
          groupId: tls-g
          saslUsername: svc
          saslPassword: pw
      - id: dst
        type: destination
        plugin: builtin:file
        settings:
          path: "{tmp_path / 'sink'}"
""")[0]
        cfg.sources[0].settings["tls.caCert"] = cert_pem
        Pipeline(spark, cfg).run_streaming(str(tmp_path / "ck"))
        with MiniKafkaClient(b.bootstrap, sasl=sasl, tls_ca=cert_pem) as c:
            assert c.offset_fetch("tls-g", [("tls-group", 0)]) == {
                ("tls-group", 0): 3
            }
