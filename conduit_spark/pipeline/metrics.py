"""Pipeline metrics — the pkg/foundation/metrics + MetricsNode analog.

The reference counts records/bytes per connector with Prometheus
counters threaded through MetricsNodes in the DAG
(pkg/foundation/metrics/, pkg/lifecycle/service.go). Here the
counters ride the existing delivery path: ``Pipeline._deliver``
already observes per-destination counts and nacks and times each
write, so each batch reports into a process-wide
:class:`MetricsRegistry`; Structured Streaming progress lands in the
same registry through a ``StreamingQueryListener`` keyed by query
name (one query per pipeline, named ``conduit-<pipeline-id>``).

Exposure: ``conduit_spark metrics`` CLI verb, the ``metrics`` field
of ``list --json``, and ``GET /v1/metrics`` on the HTTP control
plane — all snapshots of the same registry.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field


@dataclass
class PipelineMetrics:
    pipeline_id: str
    batches: int = 0
    failures: int = 0
    delivered: dict[str, int] = field(default_factory=dict)  # per destination
    nacked: int = 0
    dlq_routed: int = 0
    dlq_bytes: int = 0  # payload bytes written to the DLQ (conduit_dlq_bytes analog)
    # write milliseconds per destination id, plus "dlq": the writes of
    # a batch overlap, so its duration no longer splits into them
    write_ms: dict[str, float] = field(default_factory=dict)
    last_batch_duration_ms: float = 0.0
    total_duration_ms: float = 0.0
    # streaming-side (StreamingQueryListener progress)
    stream_batches: int = 0
    stream_input_rows: int = 0
    stream_status: str | None = None

    def to_json(self) -> dict:
        return {
            "pipeline_id": self.pipeline_id,
            "batches": self.batches,
            "failures": self.failures,
            "delivered": dict(self.delivered),
            "nacked": self.nacked,
            "dlq_routed": self.dlq_routed,
            "dlq_bytes": self.dlq_bytes,
            "write_ms": {k: round(v, 3) for k, v in self.write_ms.items()},
            "last_batch_duration_ms": round(self.last_batch_duration_ms, 3),
            "total_duration_ms": round(self.total_duration_ms, 3),
            "stream_batches": self.stream_batches,
            "stream_input_rows": self.stream_input_rows,
            "stream_status": self.stream_status,
        }


class MetricsRegistry:
    """Thread-safe cumulative counters, one entry per pipeline id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_id: dict[str, PipelineMetrics] = {}

    def _entry(self, pid: str) -> PipelineMetrics:
        if pid not in self._by_id:
            self._by_id[pid] = PipelineMetrics(pid)
        return self._by_id[pid]

    def record_batch(
        self,
        pid: str,
        *,
        delivered: dict[str, int] | None = None,
        nacked: int = 0,
        dlq_routed: int = 0,
        dlq_bytes: int = 0,
        write_ms: dict[str, float] | None = None,
        duration_ms: float = 0.0,
        failed: bool = False,
    ) -> None:
        with self._lock:
            m = self._entry(pid)
            m.batches += 1
            if failed:
                m.failures += 1
            for dest, n in (delivered or {}).items():
                m.delivered[dest] = m.delivered.get(dest, 0) + n
            m.nacked += nacked
            m.dlq_routed += dlq_routed
            m.dlq_bytes += dlq_bytes
            for dest, ms in (write_ms or {}).items():
                m.write_ms[dest] = m.write_ms.get(dest, 0.0) + ms
            m.last_batch_duration_ms = duration_ms
            m.total_duration_ms += duration_ms

    def record_stream_progress(
        self, pid: str, *, input_rows: int, status: str = "running"
    ) -> None:
        with self._lock:
            m = self._entry(pid)
            m.stream_batches += 1
            m.stream_input_rows += input_rows
            m.stream_status = status

    def set_stream_status(self, pid: str, status: str) -> None:
        with self._lock:
            self._entry(pid).stream_status = status

    def snapshot(self, pid: str | None = None) -> dict:
        with self._lock:
            if pid is not None:
                m = self._by_id.get(pid)
                return m.to_json() if m else {}
            return {p: m.to_json() for p, m in self._by_id.items()}

    def reset(self) -> None:
        with self._lock:
            self._by_id.clear()


def _prom_label(value: str) -> str:
    """Escape a label value per the Prometheus text exposition rules."""
    return value.replace("\\", r"\\").replace('"', r"\"").replace("\n", r"\n")


_PROM_SPECS = [
    # (metric suffix, type, help, attribute)
    ("pipeline_batches_total", "counter", "Batches executed per pipeline", "batches"),
    ("pipeline_failures_total", "counter", "Failed batches per pipeline", "failures"),
    ("pipeline_nacked_total", "counter", "Records nacked per pipeline", "nacked"),
    ("pipeline_dlq_total", "counter", "Records routed to the DLQ", "dlq_routed"),
    ("pipeline_dlq_bytes_total", "counter", "Payload bytes written to the DLQ", "dlq_bytes"),
    (
        "pipeline_duration_ms_total",
        "counter",
        "Cumulative batch wall-clock in milliseconds",
        "total_duration_ms",
    ),
    (
        "pipeline_last_batch_duration_ms",
        "gauge",
        "Duration of the most recent batch in milliseconds",
        "last_batch_duration_ms",
    ),
    (
        "stream_batches_total",
        "counter",
        "Streaming micro-batches observed per pipeline",
        "stream_batches",
    ),
    (
        "stream_input_rows_total",
        "counter",
        "Streaming input rows observed per pipeline",
        "stream_input_rows",
    ),
]

# per-destination counters: (metric suffix, help, attribute)
_PROM_CONNECTOR_SPECS = [
    (
        "connector_records_total",
        "Records delivered per destination connector",
        "delivered",
    ),
    (
        "connector_write_ms_total",
        "Cumulative write wall-clock per destination connector in milliseconds",
        "write_ms",
    ),
]


def prometheus_text(snapshot: dict) -> str:
    """Render a ``MetricsRegistry.snapshot()`` in the Prometheus text
    exposition format (the reference serves the same counters from its
    promhttp endpoint — pkg/foundation/metrics/prometheus.go).

    Counter families carry a ``pipeline_id`` label; per-destination
    delivery counts and write times add a ``destination`` label (the
    DLQ's write time is ``destination="dlq"``).
    """
    lines: list[str] = []
    pids = sorted(snapshot)
    for suffix, mtype, help_text, attr in _PROM_SPECS:
        name = f"conduit_{suffix}"
        lines.append(f"# HELP {name} {help_text}")
        lines.append(f"# TYPE {name} {mtype}")
        for pid in pids:
            v = snapshot[pid].get(attr, 0)
            lines.append(
                f'{name}{{pipeline_id="{_prom_label(pid)}"}} {v}'
            )
    for suffix, help_text, attr in _PROM_CONNECTOR_SPECS:
        name = f"conduit_{suffix}"
        lines.append(f"# HELP {name} {help_text}")
        lines.append(f"# TYPE {name} counter")
        for pid in pids:
            per_dest = snapshot[pid].get(attr, {})
            for dest in sorted(per_dest):
                lines.append(
                    f'{name}{{pipeline_id="{_prom_label(pid)}",'
                    f'destination="{_prom_label(dest)}"}} {per_dest[dest]}'
                )
    return "\n".join(lines) + "\n"


GLOBAL_METRICS = MetricsRegistry()

_QUERY_PREFIX = "conduit-"
_LISTENER_SESSIONS: set[str] = set()
_LISTENER_LOCK = threading.Lock()


def attach_stream_listener(spark, registry: MetricsRegistry) -> None:
    """Install the StreamingQueryListener once per Spark session; it
    routes progress of queries named ``conduit-<id>`` into the
    registry (the reference's per-node metrics, at micro-batch
    granularity)."""
    sid = spark.sparkContext.applicationId
    with _LISTENER_LOCK:
        if sid in _LISTENER_SESSIONS:
            return
        _LISTENER_SESSIONS.add(sid)

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: N802
            if event.name and event.name.startswith(_QUERY_PREFIX):
                registry.set_stream_status(
                    event.name[len(_QUERY_PREFIX):], "running"
                )

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            if p.name and p.name.startswith(_QUERY_PREFIX):
                registry.record_stream_progress(
                    p.name[len(_QUERY_PREFIX):],
                    input_rows=int(p.numInputRows or 0),
                )

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass  # name not present on the terminated event

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

    spark.streams.addListener(_Listener())
