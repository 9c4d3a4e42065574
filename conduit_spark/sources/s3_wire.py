"""Jar-free ``builtin:s3`` destination over the S3 REST wire, and the
envelope projection of the wire source's object rows.

The JVM hot path for ``builtin:s3`` is Hadoop s3a (``apply_s3_conf``
maps conduit-connector-s3 setting names onto ``fs.s3a.*``); this
module and the ``conduit-s3-wire`` DataSource (``sources/pyds.py``)
are the ``transport: wire`` analog — a pure-Python S3 protocol client
(``functions.minis3.MiniS3Client``) driving the exact object semantics
of the reference's S3 connector (conduit-connector-s3):

- **source** (``conduit-s3-wire``): paginated ListObjectsV2 of
  ``prefix`` on the driver (metadata only), object bytes fetched
  executor-side in size-balanced tasks with Range chunking; one record
  per object: key = object key, payload = raw object bytes, position
  = ``bucket/key`` (:func:`envelope_from_s3`) — the reference source's
  snapshot iterator contract, and its LastModified CDC polling.
- **destination** (:func:`s3_wire_sink`): records buffered per
  partition and written as JSON-lines (``format: json``) or parquet
  (``format: parquet``) objects under ``prefix`` — the reference
  destination's buffer-then-PutObject contract, with multipart upload
  above the single-PUT threshold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _client(endpoint: str, creds: dict | None):
    """Wire client, optionally SigV4-signing (``creds``: the
    MiniS3Client kwargs ``pyds.s3_creds`` maps from the connector's
    settings)."""
    from conduit_spark.functions.minis3 import MiniS3Client

    return MiniS3Client(endpoint, **(creds or {}))


def envelope_from_s3(
    df: DataFrame, source_id: str, bucket: str, *, operation: str = "snapshot"
) -> DataFrame:
    """Object rows → OpenCDC envelopes: position = ``bucket/key`` (the
    reference S3 source's position), raw payload, key = object key.
    CDC cycles pass ``operation="create"``; the next poll position is
    ``max(metadata['s3.lastModified'])`` over the emitted records."""
    return df.select(
        F.concat(F.lit(bucket), F.lit("/"), F.col("key"))
        .cast("binary")
        .alias("position"),
        F.lit(operation).alias("operation"),
        F.create_map(
            F.lit("conduit.source.connector.id"), F.lit(source_id),
            F.lit("s3.bucket"), F.lit(bucket),
            F.lit("s3.key"), F.col("key"),
            F.lit("s3.etag"), F.col("etag"),
            F.lit("s3.lastModified"), F.col("last_modified"),
        ).alias("metadata"),
        F.col("key").cast("binary").alias("key_raw"),
        F.lit(None).cast("string").alias("key_json"),
        F.lit(None).cast("string").alias("payload_before_json"),
        F.lit(None).cast("string").alias("payload_after_json"),
        F.col("value").alias("payload_after_raw"),
        F.lit(False).alias("is_structured"),
    )


def s3_wire_sink(
    df: DataFrame,
    endpoint: str,
    bucket: str,
    prefix: str = "",
    *,
    fmt: str = "json",
    buffer_size: int = 1000,
    multipart_threshold: int = 16 * 1024 * 1024,
    creds: dict | None = None,
) -> None:
    """Write envelope records as objects: per partition, records chunk
    into ``buffer_size`` batches; each batch becomes ONE object
    ``{prefix}part-{partition:05d}-{chunk:05d}.{fmt}`` (JSON-lines or
    parquet bytes via pyarrow). Deterministic keys → reruns overwrite
    instead of duplicating (PutObject is idempotent), the engine's
    at-least-once → effectively-once trick for object stores.

    Runs as ``mapInPandas`` + a noop Dataset write, NOT
    ``foreachPartition`` — the runtime's delivery Observation only
    fires on Dataset actions (see ``kafka_wire_sink``).
    """
    if fmt not in ("json", "parquet"):
        raise ValueError(f"s3 wire format must be json|parquet, got {fmt!r}")

    def _send(pdf_iter):
        import io
        import json as _json

        import pandas as pd

        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        c = _client(endpoint, creds)
        n_sent = 0
        chunk_no = 0
        buf: list[dict] = []

        def _flush():
            nonlocal chunk_no
            if not buf:
                return
            key = f"{prefix}part-{part:05d}-{chunk_no:05d}.{fmt}"
            if fmt == "json":
                body = ("\n".join(
                    _json.dumps(r, default=_jsonable) for r in buf
                ) + "\n").encode()
            else:
                import pyarrow as pa
                import pyarrow.parquet as pq

                sink = io.BytesIO()
                pq.write_table(
                    pa.Table.from_pylist(
                        [{k: _arrowable(v) for k, v in r.items()} for r in buf]
                    ),
                    sink,
                )
                body = sink.getvalue()
            if len(body) > multipart_threshold:
                chunks = [
                    body[i : i + multipart_threshold]
                    for i in range(0, len(body), multipart_threshold)
                ]
                c.multipart_upload(bucket, key, chunks)
            else:
                c.put_object(
                    bucket, key, body,
                    content_type=(
                        "application/json" if fmt == "json"
                        else "binary/octet-stream"
                    ),
                )
            chunk_no += 1
            buf.clear()

        for pdf in pdf_iter:
            for rec in pdf.to_dict("records"):
                buf.append(rec)
                n_sent += 1
                if len(buf) >= buffer_size:
                    _flush()
        _flush()
        yield pd.DataFrame({"n_sent": [n_sent]})

    def _jsonable(v):
        if isinstance(v, (bytes, bytearray)):
            import base64

            return base64.b64encode(bytes(v)).decode()
        if hasattr(v, "item"):
            return v.item()
        return str(v)

    def _arrowable(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if hasattr(v, "item"):
            return v.item()
        return v

    (
        df.mapInPandas(_send, "n_sent long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
