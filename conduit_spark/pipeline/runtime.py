"""Pipeline runtime — fan-in, processor chains, fan-out, DLQ, recovery.

Replicates the reference's pipeline semantics on Spark's execution
model (SURVEY.md §3-§4):

- **fan-in**: N sources union into one stream
  (pkg/lifecycle/stream/fanin.go → unionByName).
- **per-connector processor chains**: source-scoped processors run
  before the union; destination-scoped ones after fan-out
  (pkg/lifecycle/service.go:658,792).
- **fan-out**: every record to all M destinations (stream/fanout.go +
  ADR 20260731-archv2-fanout-ack-model.md — micro-batch ack
  granularity documented delta vs per-record acks). The batch is
  persisted; one observed job fills the cache and counts its nacks;
  after the threshold check the DLQ write and the M destination writes
  run concurrently, as the reference's FanoutNode feeds its branches
  in parallel. A pipeline-scope breach writes the DLQ and touches no
  destination; a clean batch writes nothing to the DLQ. Under a
  foreachBatch replay, ``batch_id=N`` destinations overwrite while
  DLQ appends are at-least-once.
- **DLQ**: rows tagged ``_error`` divert to the DLQ destination; the
  pipeline *fails* (status degraded) when nacks in the window exceed
  window-nack-threshold (stream/dlq.go:232-257; v2 counts per batch,
  funnel/dlq.go:76,87 — we match v2: the micro-batch is the window
  unit when window_size is smaller than the batch).
- **statuses & recovery**: running / user-stopped / degraded /
  recovering (pkg/pipeline/instance.go:25-29); streaming restarts
  resume from the checkpoint (lifecycle/service.go:238-281's backoff
  loop maps to restart_with_backoff).

Batch and streaming share one code path: ``_chain`` builds the
plan; batch runs it directly, streaming runs it inside foreachBatch —
the reference's own v1→v2 conclusion that micro-batches win (ADR
20260704-pipeline-architecture-v2.md).
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.util import inheritable_thread_target

from conduit_spark import plans
from conduit_spark.operators.base import ERROR_COL, ensure_error_col, split_errors
from conduit_spark.pipeline.config import PipelineConfig, ProcessorConfig
from conduit_spark.pipeline.registry import (
    build_processor,
    build_source,
    write_destination,
)

STATUS_RUNNING = "running"
STATUS_USER_STOPPED = "user-stopped"
STATUS_DEGRADED = "degraded"
STATUS_RECOVERING = "recovering"


class PipelineFailure(RuntimeError):
    """Raised when DLQ nacks exceed the window threshold
    (stream/dlq.go:252-257)."""


@dataclass
class BatchResult:
    delivered: dict[str, int] = field(default_factory=dict)
    nacked: int = 0
    dlq_routed: int = 0
    dlq_bytes: int = 0
    # write milliseconds per destination id, plus "dlq"
    write_ms: dict[str, float] = field(default_factory=dict)
    status: str = STATUS_RUNNING


def _error_stats(df: DataFrame) -> tuple[int, int]:
    """(errored rows, their payload bytes) of ``df`` from ONE job: an
    observed ``noop`` write. Over a freshly persisted batch this is
    also the job that fills the cache (an ``agg().collect()`` ran
    three: cache fill, map stage, result stage). The bytes are what
    the DLQ write carries (conduit_dlq_bytes)."""
    err = F.col(ERROR_COL).isNotNull()
    payload_bytes = F.coalesce(
        F.length(F.col("payload_after_json")),
        F.length(F.col("payload_after_raw")),
        F.lit(0),
    ).cast("bigint")
    obs = Observation()
    df.observe(
        obs,
        F.count_if(err).alias("n"),
        F.coalesce(F.sum(F.when(err, payload_bytes)), F.lit(0)).alias("b"),
    ).write.format("noop").mode("overwrite").save()
    stats = obs.get
    return int(stats["n"]), int(stats["b"])


def _batch_settings(
    plugin: str, settings: dict[str, Any], batch_id: int | None
) -> dict[str, Any]:
    """A file/s3 destination's settings scoped to one micro-batch."""
    if batch_id is None or plugin not in ("builtin:file", "builtin:s3"):
        return settings
    settings = dict(settings)
    if plugin == "builtin:s3" and str(settings.get("transport", "jvm")) == "wire":
        # the wire sink addresses objects by prefix+deterministic part
        # keys, not a path: scope the PREFIX per batch so a replayed
        # batch overwrites its own objects (PutObject idempotence) and
        # distinct batches can never collide on part-00000-00000
        base = str(settings.get("prefix", "")).rstrip("/")
        settings["prefix"] = f"{base}/batch_id={batch_id}/".lstrip("/")
    else:
        settings["path"] = settings["path"].rstrip("/") + f"/batch_id={batch_id}"
        settings["mode"] = "overwrite"  # replays overwrite
    return settings


def _run_together(spark: SparkSession, tasks: list[Callable[[], None]]) -> None:
    """Run ``tasks`` concurrently, one thread each, and wait for all of
    them; then raise the first failure in list order. Each thread
    inherits the caller's Spark local properties and tags (job group,
    job description), so a micro-batch's jobs stay attributed to it."""
    # wrap here, on the caller's thread: the wrapper snapshots its
    # properties, one copy per task
    wrapped = [inheritable_thread_target(spark)(t) for t in tasks]
    with ThreadPoolExecutor(max_workers=len(wrapped)) as pool:
        futures = [pool.submit(t) for t in wrapped]
    for f in futures:
        f.result()


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        *,
        transports: dict[str, Any] | None = None,
        metrics: Any | None = None,
        inspectors: dict[str, Any] | None = None,
    ):
        if not config.sources:
            raise ValueError(f"pipeline {config.id}: needs at least one source")
        if not config.destinations:
            raise ValueError(f"pipeline {config.id}: needs at least one destination")
        from conduit_spark.pipeline.metrics import GLOBAL_METRICS
        from conduit_spark.session import ensure_session_confs

        self.spark = ensure_session_confs(spark)
        self.config = config
        self.transports = transports or {}
        self.status = config.status
        self.metrics = metrics if metrics is not None else GLOBAL_METRICS
        # node id (connector or processor) -> StreamInspector; taps are
        # sampled only for attached ids, so an uninspected pipeline pays
        # zero extra jobs (reference: pkg/inspector/inspector.go:33-68 —
        # sessions only observe while attached)
        self.inspectors = inspectors or {}

    # ---- plan building ---------------------------------------------------

    def _tap(self, node_id: str, df: DataFrame) -> None:
        """Sample df into the node's attached inspector. Node-accurate
        taps are batch-mode only (streaming plans can't be collected
        mid-build); in streaming, ``_deliver`` feeds every attached
        non-destination inspector the merged post-chain micro-batch
        instead — records still flow, at pipeline rather than node
        granularity."""
        insp = self.inspectors.get(node_id)
        if insp is not None and not df.isStreaming:
            insp.tap_batch(df)

    def _chain(self, df: DataFrame, procs: list[ProcessorConfig]) -> DataFrame:
        for p in procs:
            # "<id>#in" taps the records ENTERING the processor,
            # bare "<id>" the records leaving it — the two streams of
            # InspectProcessorIn/Out (api.proto:1011-1024)
            self._tap(f"{p.id}#in", df)
            transform = build_processor(
                p.plugin, p.settings, p.condition, transports=self.transports
            )
            df = transform(df)
            self._tap(p.id, df)
        return df

    def build_batch(self) -> DataFrame:
        """Fan-in + pipeline processors → the pre-fan-out DataFrame."""
        branches = []
        for src in self.config.sources:
            df = build_source(
                self.spark, src.plugin, src.settings, src.id, streaming=False
            )
            df = ensure_error_col(df)
            self._tap(src.id, df)
            branches.append(self._chain(df, src.processors))
        merged = branches[0]
        for b in branches[1:]:
            merged = merged.unionByName(b)
        return self._chain(merged, self.config.processors)

    def build_streaming(self, *, defer_pipeline_chain: bool = False) -> DataFrame:
        """``defer_pipeline_chain`` leaves the PIPELINE-level processor
        chain out of the static streaming plan so ``_deliver`` can
        apply it per micro-batch from the CURRENT config — the
        live-swap hook dev mode uses (a processor-config edit lands at
        the next batch boundary, no restart). Per-source chains and
        connectors stay in the static plan: they carry position/ack
        state and are restart-class (the reference's exact
        invariant-safety line, 20260712-pipeline-dev-hot-reload.md)."""
        branches = []
        for src in self.config.sources:
            df = build_source(
                self.spark, src.plugin, src.settings, src.id, streaming=True
            )
            df = ensure_error_col(df)
            branches.append(self._chain(df, src.processors))
        merged = branches[0]
        for b in branches[1:]:
            merged = merged.unionByName(b)
        if defer_pipeline_chain:
            return merged
        return self._chain(merged, self.config.processors)

    # ---- batch execution -------------------------------------------------

    def _deliver(self, df: DataFrame, batch_id: int | None = None) -> BatchResult:
        """Fan-out one (micro-)batch: persist it, count its nacks, check
        the window threshold, then write the DLQ and every destination.

        - **One job fills and counts.** The batch's first job is an
          observed ``noop`` write over the persisted batch: it fills
          the cache and counts the errored rows and their payload
          bytes in the same pass.
        - **The writes run together.** Once the threshold is checked,
          the DLQ write (only when errored rows exist) and each
          destination's work (its chain, its destination-scope nack,
          its write) run concurrently, one thread per write, all
          inheriting the caller's job group and description — the
          reference's FanoutNode feeds its branches in parallel
          (stream/fanout.go).
        - **Ordering.** A pipeline-scope breach writes the DLQ, then
          raises, and touches no destination. A destination-scope
          breach raises after its DLQ write and skips that
          destination's write; the other destinations run at the same
          time, so any of them may or may not be written. Likewise a
          failed pipeline-scope DLQ write (nacks below the threshold)
          no longer keeps the destinations from being written, so a
          ``run_batch`` retry appends their rows again. A clean batch
          writes nothing to the DLQ. DLQ writes never overlap each
          other (they share one output directory), but their order
          across scopes is not config order: under a DLQ in
          ``mode: overwrite`` which scope's rows remain is not fixed.
          JVM-transport s3 writes run one at a time (they share the
          session's Hadoop conf; see ``registry._S3A_CONF_LOCK``).

        Every batch — delivered or failed — reports into the metrics
        registry (MetricsNode analog; the counts ride the fill and
        write observations, no extra pass), with each write's
        milliseconds under its destination id and ``dlq``.

        ``batch_id`` (streaming) makes file-destination writes
        idempotent: each micro-batch lands in its own
        ``batch_id=N`` subdirectory and a replayed batch (foreachBatch
        re-delivery after failure) overwrites rather than duplicates —
        at-least-once delivery upgraded to effective exactly-once for
        file/s3 sinks, the analog of the reference's ordered-ack
        invariants (source.go:517-576) on micro-batch granularity.
        DLQ appends stay at-least-once: a replayed batch appends its
        errored rows again."""
        res = BatchResult()
        t0 = time.monotonic()
        completed = False
        try:
            with plans.scoped_cache(df) as df:
                if batch_id is not None and self.inspectors:
                    # streaming micro-batch: source/processor taps were
                    # skipped at build time (plan not collectable) —
                    # feed those inspectors the merged batch so
                    # inspection still observes the stream (pipeline
                    # granularity; see _tap docstring)
                    dest_ids = {d.id for d in self.config.destinations}
                    for node_id, insp in self.inspectors.items():
                        if node_id not in dest_ids:
                            insp.tap_batch(df)
                self._fan_out(df, res, batch_id)
            completed = True
            return res
        finally:
            self.metrics.record_batch(
                self.config.id,
                delivered=res.delivered,
                nacked=res.nacked,
                dlq_routed=res.dlq_routed,
                dlq_bytes=res.dlq_bytes,
                write_ms=res.write_ms,
                duration_ms=(time.monotonic() - t0) * 1000,
                failed=not completed,
            )

    def _fan_out(
        self, df: DataFrame, res: BatchResult, batch_id: int | None
    ) -> None:
        dlq = self.config.dlq
        threshold = dlq.window_nack_threshold if dlq else 0
        res_lock = threading.Lock()
        dlq_lock = threading.Lock()  # concurrent appends would share _temporary

        def timed_write(name: str, frame: DataFrame, plugin: str, settings) -> None:
            t = time.monotonic()
            write_destination(frame, plugin, settings)
            ms = (time.monotonic() - t) * 1000
            with res_lock:
                res.write_ms[name] = res.write_ms.get(name, 0.0) + ms

        def nack(n: int, n_bytes: int) -> bool:
            """Count n errored rows against the window (any scope —
            the reference routes processor failures to the DLQ whether
            the chain is pipeline- or destination-scoped,
            funnel/dlq.go:76-87); True when the threshold is breached."""
            with res_lock:
                res.nacked += n
                if dlq is not None:
                    res.dlq_routed += n
                    res.dlq_bytes += n_bytes
                return res.nacked > threshold

        def write_dlq(errored: DataFrame, scope: str) -> None:
            if dlq is None:
                return
            dlq_df = errored.withColumn(
                "metadata",
                F.map_concat(
                    F.col("metadata"),
                    F.create_map(
                        F.lit("conduit.dlq.error"), F.col(ERROR_COL),
                        F.lit("conduit.dlq.pipeline"), F.lit(self.config.id),
                        F.lit("conduit.dlq.scope"), F.lit(scope),
                    ),
                ),
            ).drop(ERROR_COL)
            with dlq_lock:
                timed_write("dlq", dlq_df, dlq.plugin, dlq.settings)

        def fail() -> None:
            res.status = STATUS_DEGRADED
            self.status = STATUS_DEGRADED
            raise PipelineFailure(
                f"pipeline {self.config.id}: {res.nacked} nacks exceed "
                f"window-nack-threshold {threshold}"
            )

        def deliver_to(dest, out: DataFrame) -> None:
            routed = self._chain(ensure_error_col(out), dest.processors)
            routed_ok, routed_err = split_errors(routed)
            if dest.processors:  # chain may have errored rows
                n, n_bytes = _error_stats(routed)
                if n:
                    breach = nack(n, n_bytes)
                    write_dlq(routed_err, f"destination:{dest.id}")
                    if breach:
                        fail()
            settings = _batch_settings(dest.plugin, dest.settings, batch_id)
            final = routed_ok.drop(ERROR_COL)
            self._tap(dest.id, final)
            if dest.plugin in (
                "builtin:log",
                "custom.standalone",
            ) or dest.plugin.startswith("standalone:"):
                # show(n) short-circuits the scan, and the standalone
                # sink delivers via foreachPartition (an RDD action that
                # never fires the Dataset observation listener →
                # obs.get would hang); count from the persisted base
                timed_write(dest.id, final, dest.plugin, settings)
                n_out = final.count()
            else:
                # MetricsNode analog: the observation rides the write
                # job itself — no second pass over the plan
                obs = Observation(f"deliver-{dest.id}")
                to_write = final.observe(obs, F.count(F.lit(1)).alias("n"))
                timed_write(dest.id, to_write, dest.plugin, settings)
                n_out = int(obs.get["n"])
            with res_lock:
                res.delivered[dest.id] = n_out

        # the batch's first job: fills the cache and counts the nacks
        n, n_bytes = _error_stats(df)
        ok, errored = split_errors(df)
        writes = []
        if n:
            if nack(n, n_bytes):
                write_dlq(errored, "pipeline")
                fail()
            # no breach with nacks implies a DLQ (without one the
            # threshold is 0)
            writes.append(partial(write_dlq, errored, "pipeline"))
        out = ok.drop(ERROR_COL)
        writes += [partial(deliver_to, dest, out) for dest in self.config.destinations]
        _run_together(self.spark, writes)

    def run_batch(self) -> BatchResult:
        return self._deliver(self.build_batch())

    # ---- streaming execution --------------------------------------------

    def run_streaming(
        self,
        checkpoint_dir: str,
        *,
        trigger_once: bool = True,
        await_seconds: float | None = None,
        live_processors: bool = False,
    ):
        """Start the streaming query; positions/acks live entirely in
        the Structured Streaming checkpoint (offset log + commit log
        per micro-batch — SURVEY.md §3 'Spark replaces ack plumbing').

        ``live_processors`` applies the pipeline-level processor chain
        per micro-batch from the current ``self.config`` instead of
        baking it into the static plan — swapping
        ``self.config.processors`` between batches takes effect at the
        next batch boundary without a restart (dev hot-reload)."""
        from conduit_spark.pipeline.metrics import attach_stream_listener

        attach_stream_listener(self.spark, self.metrics)
        stream_df = self.build_streaming(defer_pipeline_chain=live_processors)

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            if live_processors:
                batch_df = self._chain(batch_df, self.config.processors)
            self._deliver(batch_df, batch_id=batch_id)

        writer = (
            stream_df.writeStream.foreachBatch(process_batch)
            .queryName(f"conduit-{self.config.id}")
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if await_seconds is not None:
            query.awaitTermination(await_seconds)
        elif trigger_once:
            query.awaitTermination()
        if trigger_once and not query.isActive:
            # consumer-group half of the kafka wire source: Spark only
            # calls reader.commit(N) when batch N+1 starts, so the
            # run's final completed batch commits to the group from
            # the checkpoint's own offset/commit logs here —
            # committed-means-delivered, never log-end
            self._commit_source_groups(checkpoint_dir)
        return query

    def _commit_source_groups(self, checkpoint_dir: str) -> None:
        from conduit_spark.sources.pyds import (
            commit_group_from_checkpoint,
            kafka_sasl,
            kafka_tls,
        )

        for conn in self.config.sources:
            s = conn.settings
            if conn.plugin == "builtin:kafka" and "groupId" in s and "servers" in s:
                commit_group_from_checkpoint(
                    str(s["servers"]), str(s["groupId"]), checkpoint_dir,
                    sasl=kafka_sasl(s), tls=kafka_tls(s),
                )

    def restart_with_backoff(
        self,
        checkpoint_dir: str,
        *,
        max_restarts: int = 3,
        backoff_s: float = 0.5,
    ):
        """Recovery loop analog of lifecycle/service.go:238-281: on
        failure, restart from the checkpoint with exponential backoff."""
        delay = backoff_s
        last_err: Exception | None = None
        for _ in range(max_restarts + 1):
            try:
                self.status = STATUS_RUNNING
                return self.run_streaming(checkpoint_dir)
            except PipelineFailure:
                self.status = STATUS_DEGRADED
                raise  # DLQ threshold breaches don't auto-recover
            except Exception as e:  # noqa: BLE001
                last_err = e
                self.status = STATUS_RECOVERING
                time.sleep(delay)
                delay *= 2
        self.status = STATUS_DEGRADED
        raise RuntimeError(
            f"pipeline {self.config.id} failed after {max_restarts} restarts"
        ) from last_err

    def stop(self, query) -> None:
        query.stop()
        self.status = STATUS_USER_STOPPED
