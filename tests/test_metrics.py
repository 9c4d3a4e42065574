"""Metrics-surface tests (pkg/foundation/metrics / MetricsNode analog).

The counters must agree exactly with the BatchResult the runtime
returns — they ride the same delivery observations — including the
DLQ-routed path, and streaming progress must land via the
StreamingQueryListener keyed by query name.
"""

from __future__ import annotations

import json

import pytest

from conduit_spark.pipeline.config import parse_yaml
from conduit_spark.pipeline.metrics import GLOBAL_METRICS, MetricsRegistry
from conduit_spark.pipeline.runtime import Pipeline, PipelineFailure


def _dlq_yaml(tmp_path, threshold=5):
    return f"""
version: "2.2"
pipelines:
  - id: metered
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 20, format.options: {{id: int}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json, mode: overwrite}}
    processors:
      - id: fail-one
        plugin: error
        settings: {{message: "bad"}}
        condition: "{{{{ eq .Payload.After.id 3 }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{tmp_path / 'dlq'}", format: json, mode: overwrite}}
      window-size: 20
      window-nack-threshold: {threshold}
"""


def test_batch_metrics_match_batch_result(spark, tmp_path):
    reg = MetricsRegistry()
    cfg = parse_yaml(_dlq_yaml(tmp_path))[0]
    p = Pipeline(spark, cfg, metrics=reg)
    res = p.run_batch()
    m = reg.snapshot("metered")
    assert m["batches"] == 1 and m["failures"] == 0
    assert m["delivered"] == res.delivered == {"d": 19}
    assert m["nacked"] == res.nacked == 1
    assert m["dlq_routed"] == res.dlq_routed == 1
    assert m["last_batch_duration_ms"] > 0
    assert m["total_duration_ms"] >= m["last_batch_duration_ms"]
    # each write is timed on its own: the destination and the DLQ
    assert set(res.write_ms) == {"d", "dlq"}
    assert all(ms > 0 for ms in res.write_ms.values())
    assert m["write_ms"] == {k: round(v, 3) for k, v in res.write_ms.items()}

    # second run accumulates
    p.run_batch()
    m = reg.snapshot("metered")
    assert m["batches"] == 2 and m["delivered"] == {"d": 38}


def test_failed_batch_counts_as_failure(spark, tmp_path):
    reg = MetricsRegistry()
    cfg = parse_yaml(_dlq_yaml(tmp_path, threshold=0))[0]
    p = Pipeline(spark, cfg, metrics=reg)
    with pytest.raises(PipelineFailure):
        p.run_batch()
    m = reg.snapshot("metered")
    assert m["batches"] == 1 and m["failures"] == 1
    assert m["nacked"] == 1 and m["dlq_routed"] == 1


def test_streaming_progress_lands_in_registry(spark, tmp_path):
    """availableNow streaming run: the listener must record micro-batch
    progress for the query named conduit-<id>. Uses GLOBAL_METRICS —
    the listener attaches once per session, keyed to it."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.jsonl").write_text(
        "\n".join(json.dumps({"id": i, "v": f"x{i}"}) for i in range(9)) + "\n"
    )
    yaml_text = f"""
version: "2.2"
pipelines:
  - id: stream-metered
    connectors:
      - id: s
        type: source
        plugin: builtin:file
        settings: {{path: "{src_dir}", format: json, schema: "id long, v string"}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json}}
"""
    cfg = parse_yaml(yaml_text)[0]
    p = Pipeline(spark, cfg)  # GLOBAL registry → listener wired to it
    query = p.run_streaming(str(tmp_path / "ckpt"), trigger_once=True)
    query.awaitTermination()
    # listener events are delivered asynchronously
    import time

    deadline = time.time() + 15
    m = {}
    while time.time() < deadline:
        m = GLOBAL_METRICS.snapshot("stream-metered")
        if m.get("stream_input_rows", 0) >= 9:
            break
        time.sleep(0.25)
    assert m.get("stream_batches", 0) >= 1
    assert m.get("stream_input_rows") == 9
    # foreachBatch delivery also recorded as batch metrics
    assert m["delivered"] == {"d": 9}


def test_metrics_cli_verb(tmp_path, capsys):
    from conduit_spark import cli

    GLOBAL_METRICS.reset()
    f = tmp_path / "p.yaml"
    f.write_text(
        f"""
version: "2.2"
pipelines:
  - id: cli-metered
    status: running
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 5, format.options: {{id: int}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json}}
"""
    )
    assert cli.main(["metrics", "--pipelines", str(f)]) == 0
    snap = json.loads(capsys.readouterr().out)
    assert snap["cli-metered"]["delivered"] == {"d": 5}
    assert snap["cli-metered"]["batches"] == 1

    # list --json now carries the metrics field for this process
    assert cli.main(["list", "--pipelines", str(f), "--json"]) == 0
    rows = json.loads(capsys.readouterr().out)
    assert rows[0]["metrics"]["delivered"] == {"d": 5}


def test_http_metrics_endpoint(tmp_path):
    import urllib.request

    from conduit_spark.http_api import ControlPlane, start_server

    GLOBAL_METRICS.reset()
    GLOBAL_METRICS.record_batch(
        "api-metered", delivered={"d": 3}, nacked=1, dlq_routed=1, duration_ms=2.0
    )
    srv = start_server(ControlPlane())
    try:
        port = srv.server_address[1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/v1/metrics", timeout=5
        ) as resp:
            snap = json.loads(resp.read().decode())
        assert snap["api-metered"]["delivered"] == {"d": 3}
        assert snap["api-metered"]["dlq_routed"] == 1
    finally:
        srv.shutdown()


def test_prometheus_exposition_format():
    from conduit_spark.pipeline.metrics import MetricsRegistry, prometheus_text

    reg = MetricsRegistry()
    reg.record_batch(
        'pipe"a', delivered={"d1": 3, "d2": 2}, nacked=1, dlq_routed=1,
        write_ms={"d1": 1.25, "d2": 0.5, "dlq": 0.75}, duration_ms=2.5,
    )
    reg.record_batch(
        'pipe"a', delivered={"d1": 4}, write_ms={"d1": 1.0}, duration_ms=1.5
    )
    reg.record_stream_progress("other", input_rows=7)
    text = prometheus_text(reg.snapshot())

    # counters aggregate across batches; label values escaped
    assert 'conduit_pipeline_batches_total{pipeline_id="pipe\\"a"} 2' in text
    assert (
        'conduit_connector_records_total{pipeline_id="pipe\\"a",destination="d1"} 7'
        in text
    )
    assert (
        'conduit_connector_records_total{pipeline_id="pipe\\"a",destination="d2"} 2'
        in text
    )
    assert 'conduit_pipeline_nacked_total{pipeline_id="pipe\\"a"} 1' in text
    # per-destination write time, the DLQ under destination="dlq"
    for dest, ms in (("d1", 2.25), ("d2", 0.5), ("dlq", 0.75)):
        assert (
            f'conduit_connector_write_ms_total{{pipeline_id="pipe\\"a",'
            f'destination="{dest}"}} {ms}'
        ) in text
    assert 'conduit_stream_input_rows_total{pipeline_id="other"} 7' in text
    assert 'conduit_pipeline_last_batch_duration_ms{pipeline_id="pipe\\"a"} 1.5' in text
    # every sample line's family has HELP+TYPE headers preceding it
    seen: set[str] = set()
    for line in text.splitlines():
        if line.startswith("# TYPE "):
            seen.add(line.split()[2])
        elif line and not line.startswith("#"):
            assert line.split("{")[0] in seen


def test_http_prometheus_endpoint(tmp_path):
    import urllib.request

    from conduit_spark.http_api import ControlPlane, start_server

    GLOBAL_METRICS.reset()
    GLOBAL_METRICS.record_batch(
        "prom-metered", delivered={"d": 3}, dlq_routed=2, duration_ms=2.0
    )
    srv = start_server(ControlPlane())
    try:
        port = srv.server_address[1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ) as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            text = resp.read().decode()
        assert 'conduit_pipeline_dlq_total{pipeline_id="prom-metered"} 2' in text
        assert (
            'conduit_connector_records_total{pipeline_id="prom-metered",destination="d"} 3'
            in text
        )
    finally:
        srv.shutdown()


def test_metrics_cli_prometheus_flag(tmp_path, capsys):
    from conduit_spark import cli

    GLOBAL_METRICS.reset()
    f = tmp_path / "p.yaml"
    f.write_text(
        f"""
version: "2.2"
pipelines:
  - id: cli-prom
    status: running
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 4, format.options: {{id: int}}}}
      - id: d
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json}}
"""
    )
    assert cli.main(["metrics", "--pipelines", str(f), "--prometheus"]) == 0
    text = capsys.readouterr().out
    assert 'conduit_pipeline_batches_total{pipeline_id="cli-prom"} 1' in text
    assert (
        'conduit_connector_records_total{pipeline_id="cli-prom",destination="d"} 4'
        in text
    )


def test_dlq_bytes_counter(spark, tmp_path):
    """conduit_dlq_bytes analog: the registry accumulates the payload
    bytes the DLQ write carried, and the Prometheus text exposes it."""
    import pyspark.sql.functions as F

    from conduit_spark.pipeline.config import parse_yaml
    from conduit_spark.pipeline.metrics import MetricsRegistry, prometheus_text
    from conduit_spark.pipeline.runtime import Pipeline

    cfg = parse_yaml(
        f"""
version: "2.2"
pipelines:
  - id: dlqb
    connectors:
      - id: g
        type: source
        plugin: builtin:generator
        settings: {{recordCount: 8, format.options: {{id: int}}}}
      - id: out
        type: destination
        plugin: builtin:file
        settings: {{path: "{tmp_path / 'out'}", format: json}}
    processors:
      - id: explode
        plugin: error
        condition: '{{{{ gt .Payload.After.id 0 }}}}'
        settings: {{message: "boom"}}
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{tmp_path / 'dlq'}", format: json}}
      window-size: 100
      window-nack-threshold: 99
"""
    )[0]
    reg = MetricsRegistry()
    Pipeline(spark, cfg, metrics=reg).run_batch()
    m = reg.snapshot("dlqb")
    assert m["dlq_routed"] > 0
    assert m["dlq_bytes"] > 0
    # bytes are payload-sized, not trivially the record count
    assert m["dlq_bytes"] >= m["dlq_routed"] * 5
    text = prometheus_text(reg.snapshot())
    assert "pipeline_dlq_bytes_total" in text
