"""Consumer-group protocol parity for the jar-free kafka wire
transport: FindCoordinator/JoinGroup/SyncGroup/Heartbeat/LeaveGroup +
OffsetCommit/OffsetFetch on the in-process broker, and group-offset
resume for both batch and streaming reads of the wire source —
the reference's kafka source is a consumer-group source
(pkg/plugin/connector/builtin/registry.go)."""

from __future__ import annotations

import pytest

from conduit_spark.functions.minikafka import (
    MiniKafkaBroker,
    MiniKafkaClient,
)
from conduit_spark.sources import pyds


@pytest.fixture()
def broker():
    with MiniKafkaBroker(default_partitions=2) as b:
        yield b


def _produce(broker, topic, values, partition=0):
    with MiniKafkaClient(broker.bootstrap) as c:
        for v in values:
            c.produce(
                topic, partition,
                [{"key": None, "value": v.encode(), "timestamp": 1}],
            )


# --- protocol level ---------------------------------------------------


def test_group_membership_lifecycle(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        node, host, port = c.find_coordinator("g1")
        assert (host, port) == (broker.host, broker.port)
        g = c.join_group("g1")
        assert g["leader"] == g["member_id"] and g["generation"] == 1
        assert list(g["members"]) == [g["member_id"]]
        mine = c.sync_group(
            "g1", g["generation"], g["member_id"],
            assignments={g["member_id"]: b"assign"},
        )
        assert mine == b"assign"
        c.heartbeat("g1", g["generation"], g["member_id"])
        # second member rejoining bumps the generation; the first
        # member's heartbeat now refuses (ILLEGAL_GENERATION)
        g2 = c.join_group("g1")
        assert g2["generation"] == 2 and len(g2["members"]) == 2
        with pytest.raises(RuntimeError, match="heartbeat error 22"):
            c.heartbeat("g1", g["generation"], g["member_id"])
        c.leave_group("g1", g2["member_id"])
        with pytest.raises(RuntimeError, match="error 25"):
            c.heartbeat("g1", g2["generation"], g2["member_id"])


def test_offset_commit_fetch_roundtrip_and_generation_fencing(broker):
    broker.create_topic("t", partitions=2)
    with MiniKafkaClient(broker.bootstrap) as c:
        # no commits yet → -1
        assert c.offset_fetch("g", [("t", 0), ("t", 1)]) == {
            ("t", 0): -1, ("t", 1): -1,
        }
        # simple-consumer commit (generation -1, no membership)
        c.offset_commit("g", {("t", 0): 5, ("t", 1): 7})
        assert c.offset_fetch("g", [("t", 0), ("t", 1)]) == {
            ("t", 0): 5, ("t", 1): 7,
        }
        # member commit with a live generation
        g = c.join_group("g")
        c.offset_commit(
            "g", {("t", 0): 9},
            generation=g["generation"], member_id=g["member_id"],
        )
        assert c.offset_fetch("g", [("t", 0)]) == {("t", 0): 9}
        # a rebalance (new join) fences the old generation's commits
        c.join_group("g")
        with pytest.raises(RuntimeError, match="offset_commit error 22"):
            c.offset_commit(
                "g", {("t", 0): 11},
                generation=g["generation"], member_id=g["member_id"],
            )
        assert c.offset_fetch("g", [("t", 0)]) == {("t", 0): 9}
        # unknown member refused
        with pytest.raises(RuntimeError, match="offset_commit error 25"):
            c.offset_commit(
                "g", {("t", 0): 11}, generation=1, member_id="ghost",
            )
        # groups are isolated
        assert c.offset_fetch("other", [("t", 0)]) == {("t", 0): -1}


# --- batch reader over group offsets ----------------------------------


def _batch_read(spark, broker, group):
    return pyds.load(
        spark, "conduit-kafka-wire",
        {"servers": broker.bootstrap, "topic": "t", "groupId": group},
    ).collect()


def test_batch_wire_source_resumes_from_group_commit(spark, broker):
    """A batch group read commits what it delivered (max offset + 1 per
    partition), never the log end: records produced between the read
    and its commit reach the group's next read."""
    _produce(broker, "t", [f"a{i}" for i in range(5)])
    rows1 = _batch_read(spark, broker, "job")
    assert sorted(bytes(r.value).decode() for r in rows1) == [
        f"a{i}" for i in range(5)
    ]
    _produce(broker, "t", ["late0", "late1"])
    pyds.commit_group(broker.bootstrap, "job", pyds.delivered_offsets(rows1))
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.offset_fetch("job", [("t", 0)]) == {("t", 0): 5}

    _produce(broker, "t", [f"b{i}" for i in range(3)])
    got2 = sorted(
        bytes(r.value).decode() for r in _batch_read(spark, broker, "job")
    )
    assert got2 == ["b0", "b1", "b2", "late0", "late1"]
    # a DIFFERENT group still reads everything
    assert len(_batch_read(spark, broker, "fresh")) == 10


# --- streaming source: two runs, fresh checkpoints, shared group ------


def _run_stream(spark, broker, out, ck, group):
    q = (
        spark.readStream.format("conduit-kafka-wire")
        .option("servers", broker.bootstrap)
        .option("topic", "t")
        .option("groupId", group)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_streaming_source_resumes_from_group_across_fresh_checkpoints(
    spark, broker, tmp_path
):
    """The VERDICT e2e shape: two sequential wire-source runs share a
    group id; the second run has a BRAND-NEW checkpoint dir and still
    reads only post-commit records. Spark calls reader.commit(N) only
    when batch N+1 starts, so the final batch commits via
    commit_group_from_checkpoint (the pipeline runtime does this after
    termination; raw readStream callers invoke it directly)."""
    pyds.register(spark)
    _produce(broker, "t", [f"a{i}" for i in range(6)], partition=0)
    _produce(broker, "t", [f"a{i}" for i in range(6, 10)], partition=1)
    _run_stream(
        spark, broker, str(tmp_path / "out1"), str(tmp_path / "ck1"), "sg"
    )
    end = pyds.commit_group_from_checkpoint(
        broker.bootstrap, "sg", str(tmp_path / "ck1")
    )
    assert end == {"t:0": 6, "t:1": 4}
    got1 = sorted(
        bytes(r.value).decode()
        for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    )
    assert got1 == sorted(f"a{i}" for i in range(10))

    _produce(broker, "t", ["new1", "new2"], partition=0)
    _produce(broker, "t", ["new3"], partition=1)
    _run_stream(
        spark, broker, str(tmp_path / "out2"), str(tmp_path / "ck2"), "sg"
    )
    got2 = sorted(
        bytes(r.value).decode()
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    )
    assert got2 == ["new1", "new2", "new3"]

    # and the committed offsets are visible to any protocol client
    pyds.commit_group_from_checkpoint(
        broker.bootstrap, "sg", str(tmp_path / "ck2")
    )
    with MiniKafkaClient(broker.bootstrap) as c:
        committed = c.offset_fetch("sg", [("t", 0), ("t", 1)])
    assert committed == {("t", 0): 8, ("t", 1): 5}


def test_pipeline_runtime_commits_group_after_run(spark, broker, tmp_path):
    """Full pipeline path: builtin:kafka wire source with a groupId —
    run_streaming(trigger_once) commits the final batch's offsets to
    the group automatically; a second pipeline run with a FRESH
    checkpoint delivers only post-commit records."""
    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.runtime import Pipeline

    pyds.register(spark)
    _produce(broker, "t", ["r1", "r2", "r3"], partition=0)
    out = tmp_path / "sink"
    cfg = parse_yaml(f"""
version: "2.2"
pipelines:
  - id: cg-pipe
    connectors:
      - id: src
        type: source
        plugin: builtin:kafka
        settings:
          servers: "{broker.bootstrap}"
          topic: t
          groupId: pipegroup
          transport: wire
      - id: dst
        type: destination
        plugin: builtin:file
        settings:
          path: "{out}"
""")[0]
    Pipeline(spark, cfg).run_streaming(str(tmp_path / "ckA"))
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.offset_fetch("pipegroup", [("t", 0)]) == {("t", 0): 3}

    _produce(broker, "t", ["r4"], partition=0)
    Pipeline(spark, cfg).run_streaming(str(tmp_path / "ckB"))
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.offset_fetch("pipegroup", [("t", 0)]) == {("t", 0): 4}
