"""Kill-and-resume chaos test (tests/chaos/doc.go:15-31 analog):
SIGKILL a streaming pipeline mid-run, restart from the checkpoint,
assert every record is delivered exactly once."""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def collect_lines(out_dir: str) -> list[str]:
    lines = []
    for f in glob.glob(os.path.join(out_dir, "**", "*.json"), recursive=True):
        with open(f) as fh:
            lines.extend(json.loads(ln)["line"] for ln in fh if ln.strip())
    return lines


def test_sigkill_mid_stream_no_loss_no_dup(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    expected = []
    for i in range(3):
        (src / f"f{i}.txt").write_text(f"rec-{i}a\nrec-{i}b\n")
        expected += [f"rec-{i}a", f"rec-{i}b"]
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    child = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tests", "chaos_child.py"),
         str(src), out, ckpt, "20"],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        # wait for the first micro-batch to commit, then kill -9
        deadline = time.monotonic() + 180
        while time.monotonic() < deadline:
            if glob.glob(os.path.join(out, "batch_id=*", "*.json")):
                break
            if child.poll() is not None:
                pytest.fail("child exited before first batch")
            time.sleep(0.5)
        else:
            pytest.fail("first batch never committed")
        time.sleep(1.0)  # land inside the post-commit sleep window
        child.send_signal(signal.SIGKILL)
        child.wait(30)
    finally:
        if child.poll() is None:
            child.kill()

    delivered_before = sorted(collect_lines(out))
    assert 0 < len(delivered_before) < len(expected)  # killed mid-stream

    # restart from the checkpoint, no sleep — must finish the rest
    rc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tests", "chaos_child.py"),
         str(src), out, ckpt, "0"],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        timeout=300,
    ).returncode
    assert rc == 0
    final = sorted(collect_lines(out))
    assert final == sorted(expected)  # exactly once: no loss, no dups


# -- DBZ-2 crash-point matrix for the postgres CDC path ---------------------
#
# The reference's CDC correctness suite
# (docs/design-documents/20260726-dbz2-cdc-correctness-suite.md:10-14)
# names SIGKILL at three distinct crash points: mid-snapshot,
# mid-handoff, mid-position-write. tests/chaos_cdc_child.py runs the
# engine's snapshot->CDC handoff (the two legs of
# snapshot_handoff_source, sources/postgres_wal.py:424) over a snapshot
# parquet and LiveWalTail-captured wal2json files; each crash point is
# MARKER-GATED (the child flags `reached` and blocks on `hold`), so the
# kill lands at a verified-reached state, never on a timer.

CDC_SNAP_IDS = list(range(12))
CDC_WAL_CHANGES = [
    # (op, id, name) in feed order; lsn in the wal2json line is 0/1..0/6
    ("U", 1, "updated-1"),
    ("D", 3, None),
    ("I", 100, "new-100"),
    ("U", 100, "renamed-100"),
    ("D", 7, None),
    ("I", 101, "new-101"),
]
CDC_OP_NAME = {"I": "create", "U": "update", "D": "delete"}


def _write_snapshot_parquet(snap_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(snap_dir, exist_ok=True)
    for f in range(3):  # 3 files -> 3 snapshot micro-batches
        ids = CDC_SNAP_IDS[f * 4 : f * 4 + 4]
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "name": [f"u{i}" for i in ids],
                    "balance": [i * 1.5 for i in ids],
                }
            ),
            os.path.join(snap_dir, f"part-{f}.parquet"),
        )


def _capture_wal_with_live_tail(cap_dir: str) -> None:
    """Produce the wal capture through the REAL replication client:
    MiniPGServer walsender -> LiveWalTail.start_native -> rotating
    capture files (the same transport the engine tails in production
    tests)."""
    from conduit_spark.functions.minipg import MiniPGServer, lsn_text
    from conduit_spark.sources.postgres_wal import LiveWalTail

    def line(seq: int, op: str, rid: int, name) -> str:
        doc = {
            "action": op,
            "schema": "public",
            "table": "users",
            "lsn": lsn_text(seq),
            "columns": [
                {"name": "id", "type": "integer", "value": rid},
                {"name": "name", "type": "text", "value": name},
            ],
        }
        if op in ("U", "D"):
            doc["identity"] = [
                {"name": "id", "type": "integer", "value": rid}
            ]
        return json.dumps(doc)

    with MiniPGServer(keepalive_s=0.05) as srv:
        for seq, (op, rid, name) in enumerate(CDC_WAL_CHANGES, start=1):
            srv.feed(line(seq, op, rid, name))
        tail = LiveWalTail(cap_dir, max_lines=2, max_secs=0.2).start_native(
            srv.dsn
        )
        deadline = time.monotonic() + 15
        while (
            srv.confirmed_flush_lsn < srv.current_lsn
            and time.monotonic() < deadline
        ):
            time.sleep(0.05)
        tail.stop()
        assert srv.confirmed_flush_lsn == srv.current_lsn


def _collect_cdc(out: str, prefix: str) -> list[dict]:
    rows = []
    for f in glob.glob(os.path.join(out, f"{prefix}=*", "*.json")):
        with open(f) as fh:
            rows.extend(json.loads(ln) for ln in fh if ln.strip())
    return rows


@pytest.mark.parametrize(
    "crash_point", ["mid-snapshot", "mid-handoff", "mid-position-write"]
)
def test_cdc_sigkill_crash_matrix(tmp_path, crash_point):
    snap_dir = str(tmp_path / "snap")
    cap_dir = str(tmp_path / "cap")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    hold = str(tmp_path / "hold")
    reached = str(tmp_path / f"reached-{crash_point}")
    snap_lsn = "0/0"  # every captured change is strictly after

    _write_snapshot_parquet(snap_dir)
    _capture_wal_with_live_tail(cap_dir)
    open(hold, "w").write("1")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    args = [
        sys.executable, os.path.join(REPO, "tests", "chaos_cdc_child.py"),
        snap_dir, cap_dir, out, ckpt, crash_point, hold, reached, snap_lsn,
    ]
    child = subprocess.Popen(
        args, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL
    )
    try:
        deadline = time.monotonic() + 180
        while time.monotonic() < deadline:
            if os.path.exists(reached):
                break
            if child.poll() is not None:
                pytest.fail("child exited before reaching the crash point")
            time.sleep(0.2)
        else:
            pytest.fail(f"crash point {crash_point} never reached")
        child.send_signal(signal.SIGKILL)
        child.wait(30)
    finally:
        if child.poll() is None:
            child.kill()

    # crash-point-specific mid-state invariants
    snap_dirs = glob.glob(os.path.join(out, "snap=*"))
    wal_dirs = glob.glob(os.path.join(out, "wal=*"))
    if crash_point == "mid-snapshot":
        assert 0 < len(snap_dirs) < 3  # durable partial snapshot
        assert not wal_dirs
    elif crash_point == "mid-handoff":
        assert len(snap_dirs) == 3 and not wal_dirs
        assert os.path.exists(os.path.join(out, "_snapshot_done"))
    else:  # mid-position-write: sink written, position not recorded
        assert len(wal_dirs) == 1

    # release the gate; the restart must finish everything
    os.unlink(hold)
    rc = subprocess.run(
        args, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        timeout=300,
    ).returncode
    assert rc == 0

    # exactly once: snapshot ids delivered once each ...
    snap_rows = _collect_cdc(out, "snap")
    got_ids = sorted(json.loads(r["key_json"])["id"] for r in snap_rows)
    assert got_ids == CDC_SNAP_IDS
    assert {r["operation"] for r in snap_rows} == {"snapshot"}
    assert {r["lsn"] for r in snap_rows} == {snap_lsn}
    # ... and every WAL change delivered once, strictly after the cutover
    wal_rows = _collect_cdc(out, "wal")
    got = sorted(
        (r["lsn"], r["operation"], int(json.loads(r["key_json"])["id"]))
        for r in wal_rows
    )
    expect = sorted(
        (f"0/{seq}", CDC_OP_NAME[op], rid)
        for seq, (op, rid, _) in enumerate(CDC_WAL_CHANGES, start=1)
    )
    assert got == expect

    if crash_point == "mid-position-write":
        # the at-least-once window really opened: the wal batch was
        # WRITTEN twice (pre-kill + replay) yet delivered exactly once
        with open(os.path.join(out, "writes.log")) as fh:
            wal_writes = [ln for ln in fh if "/wal=0" in ln]
        assert len(wal_writes) >= 2

    # LSN-ordered materialization equals replay-from-empty (the
    # cdc_apply contract: max-LSN row per key wins, deletes remove)
    state = {i: f"u{i}" for i in CDC_SNAP_IDS}
    for op, rid, name in CDC_WAL_CHANGES:
        if op == "D":
            state.pop(rid, None)
        else:
            state[rid] = name
    applied = {i: f"u{i}" for i in CDC_SNAP_IDS}
    for lsn, op, rid in sorted(
        got, key=lambda t: int(t[0].split("/")[1], 16)
    ):
        if op == "delete":
            applied.pop(rid, None)
        else:
            row = next(
                json.loads(r["payload_after_json"])
                for r in wal_rows
                if r["lsn"] == lsn
            )
            applied[int(row["id"])] = row["name"]
    assert applied == state


# -- kafka wire: SIGKILL in the commit window + per-partition ordering ------


def test_kafka_wire_sigkill_resume_per_partition_ordering(tmp_path):
    """The DBZ-2 ordering property on the kafka connector path: kill
    the wire consumer after its first batch's sink write but before
    Spark records the commit (marker-gated, like the CDC matrix), feed
    more records, resume from the checkpoint. The killed batch must
    REPLAY (proven via writes.log) yet deliver exactly once, and each
    partition's delivered offsets must be gapless, duplicate-free, and
    in produced order — cross-partition order is explicitly not
    asserted (the documented contract)."""
    from conduit_spark.functions.minikafka import MiniKafkaBroker, MiniKafkaClient

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    hold = str(tmp_path / "hold")
    reached = str(tmp_path / "reached")
    wave1 = {0: [f"a{i}" for i in range(4)], 1: [f"b{i}" for i in range(4)]}
    wave2 = {0: ["a4", "a5"], 1: ["b4"]}

    with MiniKafkaBroker(default_partitions=2) as broker:
        broker.create_topic("t", partitions=2)
        with MiniKafkaClient(broker.bootstrap) as c:
            for part, vals in wave1.items():
                c.produce("t", part, [{"value": v.encode()} for v in vals])
        open(hold, "w").write("1")

        # no PYTHONPATH and a foreign cwd: get_spark must hand the
        # package path to the JVM-started data-source planner itself
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_GRAFT_CPUS"] = "4"
        args = [
            sys.executable,
            os.path.join(REPO, "tests", "chaos_kafka_child.py"),
            broker.bootstrap, "t", out, ckpt, hold, reached,
        ]
        child = subprocess.Popen(
            args, env=env, cwd=tmp_path,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        try:
            deadline = time.monotonic() + 180
            while time.monotonic() < deadline:
                if os.path.exists(reached):
                    break
                if child.poll() is not None:
                    pytest.fail("child exited before the crash point")
                time.sleep(0.2)
            else:
                pytest.fail("crash point never reached")
            child.send_signal(signal.SIGKILL)
            child.wait(30)
        finally:
            if child.poll() is None:
                child.kill()

        # batch 0 was sink-written but its commit never landed
        assert glob.glob(os.path.join(out, "b=0", "*.json"))

        # new records arrive while the consumer is down
        with MiniKafkaClient(broker.bootstrap) as c:
            for part, vals in wave2.items():
                c.produce("t", part, [{"value": v.encode()} for v in vals])

        os.unlink(hold)
        # run 2 replays the uncommitted batch 0 and commits it; run 3
        # plans the next batch over the wave-2 records (the wire
        # source is one micro-batch per availableNow run — the
        # pipeline runtime's trigger-once cadence)
        for _ in range(2):
            rc = subprocess.run(
                args, env=env, cwd=tmp_path,
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=300,
            ).returncode
            assert rc == 0

    # the killed batch replayed (written twice), everything else once
    with open(os.path.join(out, "writes.log")) as fh:
        writes = [ln.strip() for ln in fh if ln.strip()]
    assert writes.count("b=0") >= 2

    rows = []
    for f in glob.glob(os.path.join(out, "b=*", "*.json")):
        with open(f) as fh:
            rows.extend(json.loads(ln) for ln in fh if ln.strip())
    per_part = {0: [], 1: []}
    for r in rows:
        per_part[r["partition"]].append((r["offset"], r["value"]))
    for part in (0, 1):
        ordered = sorted(per_part[part])
        produced = wave1[part] + wave2[part]
        # gapless offsets 0..n-1, each exactly once, values in
        # produced order — no loss, no dup, no reorder within the
        # partition
        assert [o for o, _ in ordered] == list(range(len(produced)))
        assert [v for _, v in ordered] == produced
        assert len(per_part[part]) == len(produced)


def test_sigkill_mid_stream_stateful_state_recovery(tmp_path):
    """VERDICT r9 item 7: driver kill mid-batch over a custom-stateful
    (``running_dedup_state``) query. The checkpointed state store must
    recover such that keys emitted BEFORE the kill are not re-emitted
    after restart (no double-emit) and every key still emits exactly
    once with its FIRST payload — the stateful analog of the
    source-side exactly-once invariant above."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    # overlapping keys across micro-batches: k1 recurs in every file,
    # each file introduces one new key; first payload must win
    keys = []
    for i in range(4):
        rows = [{"k": "k1", "p": f"dup-{i}"}, {"k": f"new{i}", "p": f"first-{i}"}]
        (src / f"f{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
        keys.append(f"new{i}")
    expected_keys = sorted(["k1"] + keys)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    child = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tests", "chaos_stateful_child.py"),
         str(src), out, ckpt, "20"],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            if glob.glob(os.path.join(out, "batch_id=*", "*.json")):
                break
            if child.poll() is not None:
                pytest.fail("child exited before first batch")
            time.sleep(0.5)
        else:
            pytest.fail("first batch never committed")
        time.sleep(1.0)  # land inside the post-commit sleep window
        child.send_signal(signal.SIGKILL)
        child.wait(30)
    finally:
        if child.poll() is None:
            child.kill()

    def emitted() -> list[tuple[str, str]]:
        rows = []
        for f in glob.glob(os.path.join(out, "**", "*.json"), recursive=True):
            with open(f) as fh:
                for ln in fh:
                    if ln.strip():
                        d = _json.loads(ln)
                        rows.append((d["dedup_key"], d["first_payload"]))
        return rows

    before = emitted()
    assert 0 < len(before) < len(expected_keys)  # killed mid-stream

    rc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tests", "chaos_stateful_child.py"),
         str(src), out, ckpt, "0"],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        timeout=420,
    ).returncode
    assert rc == 0
    final = emitted()
    got_keys = sorted(k for k, _ in final)
    # every key exactly once — a state-store recovery failure would
    # re-emit k1 (seen pre-kill) on the post-restart batches
    assert got_keys == expected_keys
    # first occurrence wins: k1's payload is from micro-batch 0
    payloads = dict(final)
    assert payloads["k1"] == "dup-0"
