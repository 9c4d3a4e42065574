"""stream_kafka: an open loop at a fixed rate through the kafka wire source.

A separate process (``loadgen.py``) hosts the broker and produces
2,000 records/s, each stamped with its creation time. The engine runs
``Pipeline.run_streaming(trigger_once=False)`` over ``builtin:kafka``
with ``transport: wire``, then ``json.decode`` → ``field.set`` →
``filter`` → a conditional ``error`` routed to a file DLQ, then fans
out to two ``builtin:file`` destinations (json and parquet). That is
the paper's core job (source → processors → DLQ → fan-out) run as
small micro-batches, so per-batch fixed cost dominates. It is the
workload that runs ``Pipeline._deliver``, the file sinks,
``sources.pyds`` and the ``functions.minikafka`` client.

Latency of a record = commit time of its micro-batch at the sinks (the
newest ``_SUCCESS`` marker of the batch's destination directories)
minus its creation stamp.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys
import time

from perfbench.common import job_totals, median, now, percentile
from perfbench.loadgen import record_values

RATE = 2000.0
SEND_INTERVAL_MS = 50.0
# micro-batches before the window. Trigger time falls fast over the
# first dozen batches, then slowly for the rest of a process (4-core
# host, one 80-batch run: 1.25 s at batches 7-12, 1.05 s at 13-26,
# 0.95 s at 27-60, 0.90 s at 60-80); waiting for it to stop falling
# does not fit the run budget
WARMUP_BATCHES = 12
WARMUP_LIMIT_S = 120.0
# a record committed later than this after its creation counts as failed
LATENCY_LIMIT_MS = 5000.0
YAML = """
version: "2.2"
pipelines:
  - id: perfbench-stream
    connectors:
      - id: kafka-in
        type: source
        plugin: builtin:kafka
        settings:
          servers: "{bootstrap}"
          topic: {topic}
          transport: wire
          startingOffsets: earliest
      - id: out-json
        type: destination
        plugin: builtin:file
        settings: {{path: "{out_json}", format: json}}
      - id: out-parquet
        type: destination
        plugin: builtin:file
        settings: {{path: "{out_parquet}", format: parquet}}
    processors:
      - id: decode
        plugin: json.decode
        settings: {{field: .Payload.After}}
      - id: stamp
        plugin: field.set
        settings: {{field: .Metadata.stage, value: processed}}
      - id: drop-sampled
        plugin: filter
        condition: "{{{{ eq (mod .Payload.After.v 10) 0 }}}}"
      - id: reject
        plugin: error
        settings: {{message: rejected}}
        condition: "{{{{ eq (mod .Payload.After.v 100) 1 }}}}"
    dead-letter-queue:
      plugin: builtin:file
      settings: {{path: "{dlq}", format: json, mode: append}}
      window-size: 100000000
      window-nack-threshold: 100000000
"""


def expected_sink(v: int) -> str | None:
    """Where the pipeline above must put a record with value ``v``."""
    if v % 10 == 0:
        return None  # filtered
    return "dlq" if v % 100 == 1 else "out"


class LoadGen:
    """The generator process and its line protocol."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
                "--seed", str(seed),
                "--rate", str(RATE),
                "--interval-ms", str(SEND_INTERVAL_MS),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.hello = self._read()

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stop(self) -> dict:
        self.send("stop")
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("exit")
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def _json_payloads(paths) -> list[dict]:
    rows = []
    for part in paths:
        with open(part) as f:
            rows.extend(json.loads(json.loads(line)["payload_after_json"]) for line in f)
    return rows


def _read_sinks(dirs: dict) -> tuple[dict[int, float], dict[str, list]]:
    """Commit time (epoch s) of each micro-batch both destinations
    committed, and the (batch id, payload) rows of every sink."""
    import pyarrow.parquet as pq

    marks: dict[int, list[float]] = {}
    rows: dict[str, list] = {"out_json": [], "out_parquet": []}
    for sink, batch_rows in rows.items():
        for d in glob.glob(os.path.join(dirs[sink], "batch_id=*")):
            marker = os.path.join(d, "_SUCCESS")
            if not os.path.exists(marker):
                continue
            bid = int(d.rsplit("=", 1)[1])
            marks.setdefault(bid, []).append(os.stat(marker).st_mtime_ns / 1e9)
            if sink == "out_json":
                got = _json_payloads(glob.glob(os.path.join(d, "part-*")))
            else:
                col = pq.read_table(d, columns=["payload_after_json"]).column(0)
                got = [json.loads(s) for s in col.to_pylist()]
            batch_rows.extend((bid, p) for p in got)
    rows["dlq"] = [
        (None, p) for p in _json_payloads(glob.glob(os.path.join(dirs["dlq"], "part-*")))
    ]
    commits = {b: max(m) for b, m in marks.items() if len(m) == 2}
    return commits, rows


def _check(res, values: list[int], rows: dict) -> int:
    """Each produced record exactly once in every sink its value routes
    it to, and in no other. Returns how many records failed."""
    bad: set[int] = set()
    for sink, route in (("out_json", "out"), ("out_parquet", "out"), ("dlq", "dlq")):
        seen: dict[int, int] = {}
        for _bid, p in rows[sink]:
            seen[p["id"]] = seen.get(p["id"], 0) + 1
        wrong = [
            i for i, n in seen.items()
            if n != 1 or not 0 <= i < len(values) or expected_sink(values[i]) != route
        ]
        missing = [
            i for i, v in enumerate(values) if expected_sink(v) == route and i not in seen
        ]
        res.check(not wrong, f"{sink}: {len(wrong)} records duplicated or misrouted")
        res.check(not missing, f"{sink}: {len(missing)} records missing")
        bad.update(wrong, missing)
    return len(bad)


def run(ctx) -> None:
    from conduit_spark.pipeline import Pipeline, parse_yaml

    res, spark = ctx.result, ctx.spark
    dirs = {k: os.path.join(ctx.work, "out", k) for k in ("out_json", "out_parquet", "dlq")}
    gen = LoadGen(ctx.seed)
    query = tracer = None
    try:
        cfg = parse_yaml(YAML.format(**dirs, **gen.hello))[0]
        pipeline = Pipeline(spark, cfg)
        if ctx.trace:
            tracer = _Tracer(pipeline, dirs)
        gen.send("go")
        query = pipeline.run_streaming(
            os.path.join(ctx.work, "checkpoint"), trigger_once=False
        )
        warm = ctx.scale(WARMUP_BATCHES)
        deadline = time.time() + WARMUP_LIMIT_S
        while _batches_done(query) < warm:
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            if time.time() > deadline:
                raise RuntimeError(f"fewer than {warm} micro-batches in {WARMUP_LIMIT_S} s")
            time.sleep(0.02)
        ctx.setup_done()
        w0 = time.time()
        time.sleep(ctx.seconds)
        w1 = time.time()
        ctx.window_done()
        at_close = query.lastProgress
        # clean stop: generator first, drain, then stop the query
        gen_stats = gen.stop()
        query.processAllAvailable()
        progress = list(query.recentProgress)
        query.stop()
        failure = query.exception()
        query = None
    finally:
        if query is not None:
            query.stop()
        gen.close()
        if tracer is not None:
            tracer.close()

    # correctness, outside the timed window
    res.check(failure is None, f"query failed: {failure}")
    commits, rows = _read_sinks(dirs)
    res.attempted = gen_stats["produced"]
    failed = _check(res, record_values(ctx.seed, gen_stats["produced"]), rows)

    lat: list[float] = []
    by_batch: dict[int, list[float]] = {}
    for bid, p in rows["out_json"]:
        created = p["created_ns"] / 1e9
        if w0 <= created < w1 and bid in commits:
            ms = (commits[bid] - created) * 1e3
            lat.append(ms)
            by_batch.setdefault(bid, []).append(ms)
    batches = set(by_batch)
    late = sum(ms > LATENCY_LIMIT_MS for ms in lat)
    res.failed = failed + late
    res.check(len(batches) >= 3, f"only {len(batches)} micro-batches in the timed window")
    if len(batches) < 3:
        return
    tail_q = max(0.5, 1.0 - 10.0 / len(batches))
    # records of one micro-batch share its commit, so the samples are
    # micro-batches: the median over batches of each batch's median
    res.put("latency_ms", median([median(v) for v in by_batch.values()]), "ms")
    # micro-batches committed per second (1 / median gap between
    # commits): the inverse of the per-batch cost, not the offered rate
    ts = sorted(commits[b] for b in batches)
    res.put("throughput_per_s", 1.0 / median([b - a for a, b in zip(ts, ts[1:])]), "1/s")
    res.detail.update(
        record_latency_p50_ms=percentile(lat, 0.5),
        window_records=len(lat),
        window_batches=len(batches),
        latency_tail_q=tail_q,
        latency_tail_ms=percentile(lat, tail_q),
        late_records=late,
        generator=gen_stats,
        warmup_batches=warm,
        trigger_ms=[
            (p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"))
            for p in progress
        ],
    )
    if tracer is not None:
        _layers(ctx, tracer, dirs, progress, at_close, batches, gen_stats, lat, tail_q)


def _batch_bytes(dirs: dict, bid: int) -> int:
    """Bytes one micro-batch wrote to the json and parquet destinations."""
    return sum(
        os.path.getsize(f)
        for k in ("out_json", "out_parquet")
        for f in glob.glob(os.path.join(dirs[k], f"batch_id={bid}", "*"))
    )


def _batches_done(query) -> int:
    p = query.lastProgress
    return 0 if p is None else int(p["batchId"]) + 1


class _Tracer:
    """Times ``build_streaming``, ``_deliver`` per micro-batch and each
    ``write_destination`` call as ``pipeline.runtime`` makes it."""

    def __init__(self, pipeline, dirs: dict) -> None:
        import conduit_spark.pipeline.runtime as runtime

        self.spans: dict[int, dict] = {}
        self.build_ms = 0.0
        self._runtime = runtime
        self._orig_write = runtime.write_destination
        kind = {dirs["out_json"]: "json", dirs["out_parquet"]: "parquet", dirs["dlq"]: "dlq"}
        deliver, build = pipeline._deliver, pipeline.build_streaming
        cur: dict = {}

        def timed_build(*a, **kw):
            t = now()
            try:
                return build(*a, **kw)
            finally:
                self.build_ms = (now() - t) * 1e3

        def timed_deliver(df, batch_id=None):
            cur.clear()
            t = now()
            try:
                out = deliver(df, batch_id=batch_id)
                cur["delivered"] = out.delivered.get("out-json", 0)
                cur["nacked"] = out.nacked
                return out
            finally:
                cur["deliver"] = (now() - t) * 1e3
                self.spans[batch_id] = dict(cur)

        def timed_write(df, plugin, settings):
            base = settings.get("path", "").split("/batch_id=")[0]
            name = "write." + kind.get(base, "other")
            t = now()
            try:
                return self._orig_write(df, plugin, settings)
            finally:
                cur[name] = cur.get(name, 0.0) + (now() - t) * 1e3

        pipeline.build_streaming = timed_build
        pipeline._deliver = timed_deliver
        runtime.write_destination = timed_write

    def close(self) -> None:
        self._runtime.write_destination = self._orig_write


def _layers(ctx, tracer, dirs, progress, at_close, batches, gen_stats, lat, tail_q) -> None:
    res = ctx.result
    prog = [p for p in progress if p["batchId"] in batches]

    def dur(k):
        return median([p["durationMs"].get(k, 0) for p in prog])

    res.put("stream.trigger_ms", dur("triggerExecution"), "ms")
    res.put("stream.add_batch_ms", dur("addBatch"), "ms")
    res.put("stream.query_planning_ms", dur("queryPlanning"), "ms")
    res.put("stream.wal_commit_ms", dur("walCommit"), "ms")
    res.put("stream.commit_offsets_ms", dur("commitOffsets"), "ms")
    res.put("stream.latest_offset_ms", dur("latestOffset"), "ms")
    res.put("stream.rows_per_batch", median([p["numInputRows"] for p in prog]), "count")
    res.put("stream.batches", len(batches), "count")
    res.put("stream.latency_tail_ms", percentile(lat, tail_q), "ms")
    res.put("gen.late_ms", gen_stats["late_ms_max"], "ms")
    res.put("gen.produced", gen_stats["produced"], "count")
    # records produced by the window's close that no completed
    # micro-batch had read yet
    read = sum(_offsets(at_close["sources"][0]["endOffset"]))
    res.put("source.backlog_end", max(0, gen_stats["produced"] - read), "count")

    spans = [tracer.spans[b] for b in sorted(batches) if b in tracer.spans]

    def med(key):
        return median([s.get(key, 0.0) for s in spans])

    writes = ("write.json", "write.parquet", "write.dlq")
    res.put("pipeline.build_ms", tracer.build_ms, "ms")
    res.put("pipeline.deliver_ms", med("deliver"), "ms")
    res.put(
        "pipeline.deliver_other_ms",
        median([s["deliver"] - sum(s.get(w, 0.0) for w in writes) for s in spans]),
        "ms",
    )
    for w in writes:
        res.put(f"sinks.write_ms.{w.split('.')[1]}", med(w), "ms")
    res.put("sinks.output_bytes", median([_batch_bytes(dirs, b) for b in batches]), "bytes")
    res.put("pipeline.delivered", med("delivered"), "count")
    res.put("pipeline.nacked", med("nacked"), "count")

    jobs, stages = ctx.rest.snapshot()
    per_batch: dict[int, list] = {}
    for j in jobs:
        m = re.search(r"batch = (\d+)", j.get("description") or "")
        if m and int(m.group(1)) in batches:
            per_batch.setdefault(int(m.group(1)), []).append(j)
    per = [job_totals(v, stages) for v in per_batch.values()]
    for k in ("jobs", "stages", "tasks"):
        res.put(f"pipeline.{k}_per_batch", median([p[k] for p in per]), "count")
    for k, unit in (
        ("executor_cpu_ms", "ms"),
        ("gc_ms", "ms"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
    ):
        res.put(f"spark.{k}", median([p[k] for p in per]), unit)


def _offsets(obj) -> list[int]:
    """Every integer next-offset in a source offset document."""
    if isinstance(obj, str):
        try:
            obj = json.loads(obj)
        except ValueError:
            obj = ast.literal_eval(obj)
    if isinstance(obj, dict):
        return [x for v in obj.values() for x in _offsets(v)]
    if isinstance(obj, int):
        return [obj]
    return []
