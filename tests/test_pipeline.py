"""Pipeline runtime tests: YAML parse, batch run, fan-in/fan-out, DLQ
threshold, streaming with checkpoint recovery (chaos-test analog —
tests/chaos/doc.go:15-31 semantics: no lost records, no double
delivery after restart)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from conduit_spark.pipeline import Pipeline, PipelineFailure, parse_yaml

PIPELINE_YAML = """
version: "2.2"
pipelines:
  - id: p1
    status: running
    description: generator → transforms → file
    connectors:
      - id: gen1
        type: source
        plugin: builtin:generator
        settings:
          recordCount: 100
          format.options: {id: int, name: string, trial: bool}
      - id: out1
        type: destination
        plugin: builtin:file
        settings: {path: "%OUT%", format: json, mode: overwrite}
    processors:
      - id: drop-evens
        plugin: filter
        condition: "{{ eq .Payload.After.trial true }}"
      - id: tag
        plugin: field.set
        settings: {field: .Metadata.stage, value: processed}
    dead-letter-queue:
      plugin: builtin:file
      settings: {path: "%DLQ%", format: json, mode: overwrite}
      window-size: 100
      window-nack-threshold: 10
"""


def read_json_dir(path):
    rows = []
    # recursive pattern also matches top-level files — one glob only
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def test_yaml_parse_model():
    cfgs = parse_yaml(PIPELINE_YAML)
    assert len(cfgs) == 1
    cfg = cfgs[0]
    assert cfg.id == "p1"
    assert [c.id for c in cfg.sources] == ["gen1"]
    assert [c.id for c in cfg.destinations] == ["out1"]
    assert cfg.processors[0].condition.startswith("{{")
    assert cfg.dlq.window_nack_threshold == 10


def test_batch_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    cfg = parse_yaml(PIPELINE_YAML.replace("%OUT%", out).replace("%DLQ%", dlq))[0]
    p = Pipeline(spark, cfg)
    res = p.run_batch()
    # generator: 100 records, trial = (idx % 2 == 0) → 50 filtered
    assert res.delivered == {"out1": 50}
    rows = read_json_dir(out)
    assert len(rows) == 50
    payloads = [json.loads(r["payload_after_json"]) for r in rows]
    assert all(p["trial"] is False for p in payloads)
    assert all(r["metadata"]["stage"] == "processed" for r in rows)


def test_fan_in_fan_out(spark, tmp_path):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p2
    connectors:
      - id: g1
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 10, format.options: {{id: int}}}}
        processors:
          - id: src-tag
            plugin: field.set
            settings: {{field: .Metadata.src, value: g1}}
      - id: g2
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 5, format.options: {{id: int}}}}
      - id: da
        type: destination
        plugin: builtin:file
        settings: {{path: "{out_a}", format: json, mode: overwrite}}
      - id: db
        type: destination
        plugin: builtin:file
        settings: {{path: "{out_b}", format: json, mode: overwrite}}
        processors:
          - id: only-g1
            plugin: filter
            condition: '{{{{ ne .Metadata.src "g1" }}}}'
"""
    cfg = parse_yaml(yaml_text)[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.delivered["da"] == 15  # fan-in: 10 + 5, fan-out to both
    assert res.delivered["db"] == 10  # destination-scoped filter kept g1 only
    assert len(read_json_dir(out_a)) == 15
    assert len(read_json_dir(out_b)) == 10


def test_dlq_threshold_fails_pipeline(spark, tmp_path):
    dlq = str(tmp_path / "dlq")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p3
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json, mode: overwrite}}
    processors:
      - id: fail-trials
        plugin: error
        settings: {{message: "trial record rejected"}}
        condition: "{{{{ eq .Payload.After.trial true }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq}", format: json, mode: overwrite}}
      window-size: 20
      window-nack-threshold: 5
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)
    with pytest.raises(PipelineFailure):
        p.run_batch()  # 10 trial records > threshold 5
    assert p.status == "degraded"
    dlq_rows = read_json_dir(dlq)
    assert len(dlq_rows) == 10
    assert all(
        r["metadata"]["conduit.dlq.error"] == "trial record rejected" for r in dlq_rows
    )
    # a pipeline-scope breach touches no destination
    out = tmp_path / "out"
    assert not out.exists() or not os.listdir(out)


def test_dlq_below_threshold_continues(spark, tmp_path):
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p4
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{out}", format: json, mode: overwrite}}
    processors:
      - id: fail-one
        plugin: error
        settings: {{message: "bad"}}
        condition: "{{{{ eq .Payload.After.id 3 }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq}", format: json, mode: overwrite}}
      window-size: 20
      window-nack-threshold: 5
"""
    cfg = parse_yaml(yaml_text)[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.nacked == 1  # id==3 occurs once in (i*17+3)%1000 for i<20
    assert res.delivered["d"] == 19
    assert len(read_json_dir(dlq)) == 1


def test_destination_scoped_errors_reach_dlq(spark, tmp_path):
    """Records erroring in a destination-scoped chain must hit the DLQ
    and count as nacks (reference routes processor failures to the DLQ
    regardless of scope) — round-1 advice: they were silently dropped."""
    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p5
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{out}", format: json, mode: overwrite}}
        processors:
          - id: reject-trials
            plugin: error
            settings: {{message: "dest rejected"}}
            condition: "{{{{ eq .Payload.After.trial true }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq}", format: json, mode: append}}
      window-size: 20
      window-nack-threshold: 15
"""
    cfg = parse_yaml(yaml_text)[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.nacked == 10  # 10 of 20 records have trial=true
    assert res.delivered["d"] == 10
    dlq_rows = read_json_dir(dlq)
    assert len(dlq_rows) == 10
    assert all(
        r["metadata"]["conduit.dlq.error"] == "dest rejected" for r in dlq_rows
    )
    assert all(
        r["metadata"]["conduit.dlq.scope"] == "destination:d" for r in dlq_rows
    )


def _fan_out_yaml(tmp_path, *, reject: str) -> str:
    """One generator, a pipeline-scope ``error`` processor firing on
    ``reject``, a file DLQ and two file destinations."""
    return f"""
version: "2.2"
pipelines:
  - id: fan
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: da
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'a'}", format: json, mode: overwrite}}
      - id: db
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'b'}", format: parquet, mode: overwrite}}
    processors:
      - id: reject
        plugin: error
        settings: {{message: rejected}}
        condition: "{reject}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{tmp_path / 'dlq'}", format: json, mode: append}}
      window-size: 100
      window-nack-threshold: 100
"""


def _jobs_in_group(spark, fn) -> tuple[set[int], set[int]]:
    """(every job ``fn`` started, the ones in the caller's job group),
    from the status tracker's job ids before and after."""
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"deliver-shape-{uuid.uuid4().hex}"

    def all_ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(st.getJobIdsForGroup(None) or []) | set(
            st.getJobIdsForGroup(group) or []
        )

    before = all_ids()
    sc.setJobGroup(group, "deliver job shape")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    new = all_ids() - before
    return new, set(st.getJobIdsForGroup(group) or [])


def test_deliver_job_shape(spark, tmp_path):
    """One job fills the cache and counts the nacks; then one job per
    write. The writes run on pool threads, and every job stays in the
    caller's job group (what keeps a micro-batch's jobs attributed to
    its foreachBatch)."""
    trials = "{{ eq .Payload.After.trial true }}"
    errored = Pipeline(spark, parse_yaml(_fan_out_yaml(tmp_path / "e", reject=trials))[0])
    new, grouped = _jobs_in_group(spark, lambda: errored.run_batch())
    assert len(new) == 4  # fill+count, DLQ, json, parquet
    assert new == grouped

    never = "{{ eq .Payload.After.id -1 }}"
    clean = Pipeline(spark, parse_yaml(_fan_out_yaml(tmp_path / "c", reject=never))[0])
    new, grouped = _jobs_in_group(spark, lambda: clean.run_batch())
    assert len(new) == 3  # fill+count, json, parquet
    assert new == grouped


def test_clean_batch_writes_no_dlq_file(spark, tmp_path):
    cfg = parse_yaml(_fan_out_yaml(tmp_path, reject="{{ eq .Payload.After.id -1 }}"))[0]
    res = Pipeline(spark, cfg).run_batch()
    assert res.nacked == 0 and res.delivered == {"da": 20, "db": 20}
    dlq = tmp_path / "dlq"
    assert not dlq.exists() or not os.listdir(dlq)


def test_destination_scope_breach_with_two_destinations(spark, tmp_path):
    """A destination-scope breach writes its rows to the DLQ, raises,
    and never writes that destination. The destinations run
    concurrently, so the OTHER destination ``da`` may or may not have
    been written when the failure surfaces (a serial fan-out wrote
    every destination before the failing one in config order): it
    holds either nothing or the whole batch, never a part of it."""
    dlq = str(tmp_path / "dlq")
    cfg = parse_yaml(f"""
version: "2.2"
pipelines:
  - id: fan-breach
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: da
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'a'}", format: json, mode: overwrite}}
      - id: db
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'b'}", format: json, mode: overwrite}}
        processors:
          - id: fail-trials
            plugin: error
            settings: {{message: "dest rejected"}}
            condition: "{{{{ eq .Payload.After.trial true }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq}", format: json, mode: overwrite}}
      window-size: 20
      window-nack-threshold: 5
""")[0]
    p = Pipeline(spark, cfg)
    with pytest.raises(PipelineFailure):
        p.run_batch()  # 10 trial records > threshold 5, all in db's chain
    assert p.status == "degraded"
    dlq_rows = read_json_dir(dlq)
    assert len(dlq_rows) == 10
    assert {r["metadata"]["conduit.dlq.scope"] for r in dlq_rows} == {"destination:db"}
    b = tmp_path / "b"
    assert not b.exists() or not os.listdir(b)
    assert len(read_json_dir(str(tmp_path / "a"))) in (0, 20)


def test_concurrent_destination_nacks_add_up(spark, tmp_path):
    """Six destinations, more than the cores, each nacking in its own
    chain on its own pool thread: the shared counters lose no update
    and the DLQ appends (serialized; they share one output directory)
    all land."""
    import sys

    dests = "".join(
        f"""
      - id: d{i}
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / f'd{i}'}", format: json, mode: overwrite}}
        processors:
          - id: reject-{i}
            plugin: error
            settings: {{message: "d{i} rejected"}}
            condition: "{{{{ eq .Payload.After.trial true }}}}"
"""
        for i in range(6)
    )
    cfg = parse_yaml(f"""
version: "2.2"
pipelines:
  - id: fan-six
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}{dests}
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{tmp_path / 'dlq'}", format: json, mode: append}}
      window-size: 1000
      window-nack-threshold: 1000
""")[0]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = Pipeline(spark, cfg).run_batch()
    finally:
        sys.setswitchinterval(old)
    assert res.delivered == {f"d{i}": 10 for i in range(6)}
    assert res.nacked == res.dlq_routed == 60
    assert set(res.write_ms) == {f"d{i}" for i in range(6)} | {"dlq"}
    dlq_rows = read_json_dir(str(tmp_path / "dlq"))
    scopes = sorted(r["metadata"]["conduit.dlq.scope"] for r in dlq_rows)
    assert scopes == sorted(f"destination:d{i}" for i in range(6) for _ in range(10))


def test_concurrent_s3_writes_keep_their_own_endpoint(spark, tmp_path, monkeypatch):
    """A JVM-transport s3 write sets the session-wide s3a conf, then
    writes. The DLQ and both destinations of this batch run at once,
    each with its own ``aws.url``: every write must see its own
    endpoint from its first job to its last (s3a opens and caches a
    bucket's FileSystem under the conf it finds), and every bucket
    gets its rows. Local paths stand in for the buckets: the sandbox
    has no hadoop-aws, and the conf is what races."""
    import time

    from conduit_spark import sinks

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    seen = []
    real_file_sink = sinks.file_sink

    def observed_file_sink(df, path, **kw):
        before = conf.get("fs.s3a.endpoint")
        time.sleep(0.3)  # hold the write open while the others start
        real_file_sink(df, path, **kw)
        seen.append((os.path.basename(path), before, conf.get("fs.s3a.endpoint")))

    monkeypatch.setattr(sinks, "file_sink", observed_file_sink)
    s3 = "{{path: \"{p}\", format: json, mode: append, aws.url: \"http://{ep}\"}}"
    cfg = parse_yaml(f"""
version: "2.2"
pipelines:
  - id: fan-s3
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: da
        type: destination
        plugin: builtin:s3
        settings: {s3.format(p=tmp_path / 'a', ep='ep-a')}
      - id: db
        type: destination
        plugin: builtin:s3
        settings: {s3.format(p=tmp_path / 'b', ep='ep-b')}
    processors:
      - id: reject
        plugin: error
        settings: {{message: rejected}}
        condition: "{{{{ eq .Payload.After.trial true }}}}"
    dead-letter-queue:
      plugin: builtin:s3
      settings: {s3.format(p=tmp_path / 'dlq', ep='ep-dlq')}
      window-size: 100
      window-nack-threshold: 100
""")[0]
    old = conf.get("fs.s3a.endpoint")
    try:
        res = Pipeline(spark, cfg).run_batch()
    finally:
        if old is None:
            conf.unset("fs.s3a.endpoint")
        else:
            conf.set("fs.s3a.endpoint", old)
    assert res.delivered == {"da": 10, "db": 10} and res.dlq_routed == 10
    assert sorted(seen) == [
        ("a", "http://ep-a", "http://ep-a"),
        ("b", "http://ep-b", "http://ep-b"),
        ("dlq", "http://ep-dlq", "http://ep-dlq"),
    ]
    for name in ("a", "b", "dlq"):
        assert len(read_json_dir(str(tmp_path / name))) == 10


def test_raising_tap_frees_batch_and_records_failure(spark, tmp_path):
    """A streaming-path inspector tap that raises must still unpersist
    the batch and report one failed batch."""
    from conduit_spark.pipeline.metrics import MetricsRegistry

    class Boom:
        def tap_batch(self, df):
            raise RuntimeError("tap failed")

    reg = MetricsRegistry()
    cfg = parse_yaml(_fan_out_yaml(tmp_path, reject="{{ eq .Payload.After.id -1 }}"))[0]
    p = Pipeline(spark, cfg, metrics=reg, inspectors={"probe": Boom()})
    df = p.build_batch()
    with pytest.raises(RuntimeError, match="tap failed"):
        p._deliver(df, batch_id=0)
    level = df.storageLevel
    assert not (level.useMemory or level.useDisk)  # no CacheManager entry
    m = reg.snapshot("fan")
    assert m["batches"] == 1 and m["failures"] == 1


def test_destination_scoped_errors_fail_without_dlq(spark, tmp_path):
    """With no DLQ configured, destination-chain errors must fail the
    batch (threshold 0), not vanish."""
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p6
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int, trial: bool}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out2'}", format: json, mode: overwrite}}
        processors:
          - id: reject-trials
            plugin: error
            settings: {{message: "dest rejected"}}
            condition: "{{{{ eq .Payload.After.trial true }}}}"
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)
    with pytest.raises(PipelineFailure):
        p.run_batch()
    assert p.status == "degraded"


def test_streaming_file_source_checkpoint_resume(spark, tmp_path):
    """Chaos analog: run → stop → add data → resume from checkpoint;
    no loss, no double-delivery."""
    src_dir = tmp_path / "incoming"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("line1\nline2\n")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p5
    connectors:
      - id: f
        type: source
        plugin: builtin:file
        settings: {{path: "{src_dir}", format: text}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{out}", format: json, mode: append}}
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)
    p.run_streaming(ckpt, trigger_once=True)
    assert len(read_json_dir(out)) == 2
    # "crash" and restart with new data — checkpoint must dedupe a.txt
    (src_dir / "b.txt").write_text("line3\n")
    p.run_streaming(ckpt, trigger_once=True)
    rows = read_json_dir(out)
    assert len(rows) == 3  # line3 delivered exactly once, no replays
    payloads = sorted(r["payload_after_raw"] for r in rows)
    assert payloads == ["line1", "line2", "line3"]


def test_cdc_roundtrip_file_debezium_upsert(spark, tmp_path):
    """CDC round-trip fixture (round-1 verdict #7): file-based Debezium
    changelog → streaming pipeline with unwrap.debezium → keyed upsert
    materialization; final state must equal the logical table state
    (impl/unwrap/debezium.go:98-318 semantics; snapshot + c/u/d)."""
    import json as _json

    import pyspark.sql.functions as F

    from conduit_spark.operators.cdc import cdc_apply

    src_dir = tmp_path / "cdc"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src_dir.mkdir()

    def env_line(op, lsn, before=None, after=None):
        return _json.dumps(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "source": {"table": "t", "lsn": str(lsn)},
                    "op": op,
                    "ts_ms": 1700000000000 + lsn,
                }
            }
        )

    # snapshot: ids 1..4 with v = 10*id
    (src_dir / "batch1.json").write_text(
        "\n".join(
            env_line("r", i, after={"id": i, "v": 10 * i}) for i in (1, 2, 3, 4)
        )
        + "\n"
    )
    schema = (
        "payload struct<before:struct<id:bigint,v:bigint>,"
        "after:struct<id:bigint,v:bigint>,"
        "source:struct<table:string,lsn:string>,op:string,ts_ms:bigint>"
    )
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: cdc-rt
    connectors:
      - id: src
        type: source
        plugin: builtin:file
        settings: {{path: "{src_dir}", format: json, schema: "{schema}"}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{out}", format: json, mode: append}}
    processors:
      - id: unwrap
        plugin: unwrap.debezium
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)
    p.run_streaming(ckpt, trigger_once=True)

    # changelog arrives: update id=2, delete id=3, insert id=5
    (src_dir / "batch2.json").write_text(
        "\n".join(
            [
                env_line("u", 5, before={"id": 2, "v": 20}, after={"id": 2, "v": 999}),
                env_line("d", 6, before={"id": 3, "v": 30}),
                env_line("c", 7, after={"id": 5, "v": 50}),
            ]
        )
        + "\n"
    )
    p.run_streaming(ckpt, trigger_once=True)  # resume from checkpoint

    sunk = spark.read.json(f"{out}/batch_id=*")
    final = cdc_apply(
        sunk,
        F.coalesce(
            F.get_json_object("payload_after_json", "$.id"),
            F.get_json_object("payload_before_json", "$.id"),
        ).cast("bigint"),
        F.col("metadata").getItem("debezium.source.lsn").cast("bigint"),
    )
    state = {
        int(r.id): int(r.v)
        for r in final.select(
            F.get_json_object("payload_after_json", "$.id").alias("id"),
            F.get_json_object("payload_after_json", "$.v").alias("v"),
        ).collect()
    }
    assert state == {1: 10, 2: 999, 4: 40, 5: 50}  # id 3 deleted


def test_pipeline_queries_match_oracle(spark, sf_dir, duck):
    from conduit_spark.analytics import pipeline_queries as gq
    from tests.oracle_util import compare_spark_duckdb

    for name in sorted(gq.QUERIES):
        df = gq.QUERIES[name](spark, sf_dir)
        assert df.count() > 0
        compare_spark_duckdb(df, duck, gq.ORACLES[name])


def test_multi_collection_routing(spark, tmp_path):
    """opencdc.collection metadata routes records to per-collection
    partitions (the destination-table-template analog,
    docs/design-documents/20240402-multiple-collections.md)."""
    import pyspark.sql.functions as F
    from conduit_spark import sinks
    from conduit_spark.sources.generator import generator_source

    env = generator_source(
        spark, fields={"id": "int"}, record_count=20, typed=True
    )
    env = env.withColumn(
        "metadata",
        F.map_concat(
            F.col("metadata"),
            F.create_map(
                F.lit("opencdc.collection"),
                F.when(F.col("payload_after.id") % 2 == 0, "employees").otherwise(
                    "orders_cdc"
                ),
            ),
        ),
    ).drop("payload_after")
    out = str(tmp_path / "routed")
    sinks.file_sink(env, out, fmt="json", mode="overwrite", partition_by_collection=True)
    import glob
    dirs = sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(out, "collection=*"))
    )
    assert dirs == ["collection=employees", "collection=orders_cdc"]


def test_restart_with_backoff_recovers(spark, tmp_path, monkeypatch):
    """Recovery loop (lifecycle/service.go:238-281 analog): transient
    failures retry with backoff, then succeed from the checkpoint."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("x\ny\n")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: p6
    connectors:
      - id: f
        type: source
        plugin: builtin:file
        settings: {{path: "{src_dir}", format: text}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json, mode: append}}
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)
    calls = {"n": 0}
    real = p.run_streaming

    def flaky(ckpt, **kw):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient source failure")
        return real(ckpt, **kw)

    p.run_streaming = flaky
    p.restart_with_backoff(str(tmp_path / "ck"), max_restarts=3, backoff_s=0.01)
    assert calls["n"] == 3
    assert p.status == "running"
    assert len(read_json_dir(str(tmp_path / "out"))) == 2


def test_file_orc_round_trip(spark, tmp_path):
    """ORC source/sink parity: structured envelopes survive an ORC
    write → read round trip (Spark-native columnar format the
    reference's file connector lacks)."""
    from conduit_spark.sinks import file_sink
    from conduit_spark.sources.file_source import file_source

    import pyspark.sql.functions as F

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double"
    )
    raw = str(tmp_path / "raw_orc")
    src.write.orc(raw)
    env = file_source(spark, raw, fmt="orc", source_id="s1")
    assert env.count() == 2
    assert env.filter(F.col("is_structured")).count() == 2
    out = str(tmp_path / "out_orc")
    file_sink(env.drop("position", "key_raw"), out, fmt="orc")
    back = spark.read.orc(out)
    assert back.count() == 2
    payloads = sorted(
        r.payload_after_json for r in back.select("payload_after_json").collect()
    )
    assert '"name":"a"' in payloads[0]


def test_compact_partitions_preserves_rows_and_merges_files(spark, tmp_path):
    """A deliberately fragmented dataset (40 tasks × tiny rows)
    compacts to few files with identical content, including under a
    partition column."""
    from conduit_spark.sinks import compact_partitions

    import pyspark.sql.functions as F

    path = str(tmp_path / "frag")
    (
        spark.range(2000)
        .select("id", (F.col("id") % 3).alias("p"))
        .repartition(40)
        .write.partitionBy("p")
        .parquet(path)
    )
    before = sorted(
        (r.id, r.p) for r in spark.read.parquet(path).collect()
    )
    stats = compact_partitions(
        spark, path, partition_col="p", target_file_bytes=64 * 1024 * 1024
    )
    after = sorted((r.id, r.p) for r in spark.read.parquet(path).collect())
    assert after == before
    assert stats["files_before"] > 100  # 40 tasks × 3 partitions
    assert stats["files_after"] <= 3  # one right-sized file per partition


def test_streaming_inspectors_receive_microbatch(spark, tmp_path):
    """In streaming mode, node-accurate taps can't run at build time;
    attached source/processor inspectors must still observe records via
    the merged micro-batch in _deliver (destination taps stay
    node-accurate)."""
    from conduit_spark.streaming.inspector import StreamInspector

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("r1\nr2\nr3\n")
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: insp-stream
    connectors:
      - id: f
        type: source
        plugin: builtin:file
        settings: {{path: "{src_dir}", format: text}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json, mode: append}}
"""
    cfg = parse_yaml(yaml_text)[0]
    src_insp, dst_insp = StreamInspector(), StreamInspector()
    p = Pipeline(spark, cfg, inspectors={"f": src_insp, "d": dst_insp})
    p.run_streaming(str(tmp_path / "ckpt"), trigger_once=True)
    assert len(src_insp.records()) == 3  # merged micro-batch tap
    assert len(dst_insp.records()) == 3  # node-accurate destination tap
    payloads = sorted(
        bytes(r["payload_after_raw"]).decode() for r in src_insp.records()
    )
    assert payloads == ["r1", "r2", "r3"]
