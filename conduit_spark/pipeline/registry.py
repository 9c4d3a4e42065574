"""Plugin registries: processor names → operator factories, connector
plugins → source builders / sink writers.

Processor names match the reference registry
(pkg/plugin/processor/builtin/registry.go:46-72). Each factory takes
the YAML ``settings`` map (+ optional condition, + runtime-injected
transports) and returns a ``DataFrame -> DataFrame``.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark import operators as ops
from conduit_spark.sources.file_source import file_source
from conduit_spark.sources.generator import generator_source

Transform = Callable[[DataFrame], DataFrame]


def _require(settings: dict, *keys: str) -> None:
    missing = [k for k in keys if k not in settings]
    if missing:
        raise ValueError(f"missing processor settings: {missing}")


# Provider generation knobs forwarded verbatim to the transport
# (openai/textgen.go + cohere/command.go + ollama request fields).
_TEXTGEN_PARAMS = (
    "temperature", "max_tokens", "max_completion_tokens", "top_p", "n",
    "seed", "stop", "frequency_penalty", "presence_penalty",
    "logit_bias", "log_probs", "top_log_probs", "user", "store",
    "stream", "reasoning_effort", "developer_message", "strict_output",
)
_EMBED_PARAMS = ("dimensions", "encoding_format", "inputType")


def _gen_params(settings: dict, names: tuple[str, ...]) -> dict | None:
    """Collect provider knobs from flat settings; a nested ``params``
    dict passes through and wins on key conflicts."""
    out = {k: settings[k] for k in names if k in settings}
    nested = settings.get("params")
    if isinstance(nested, dict):
        out.update(nested)
    return out or None


def _with_condition_passthrough(df, condition, transform):
    """Apply ``transform`` only to records matching ``condition``;
    non-matching records pass through untouched (the reference
    evaluates processor conditions per record before Process)."""
    if condition is None:
        return transform(df)
    from conduit_spark.operators.base import to_condition

    cond = to_condition(df, condition)
    matched = transform(df.filter(F.coalesce(cond, F.lit(False))))
    return matched.unionByName(df.filter(~F.coalesce(cond, F.lit(False))))


# Plugin inventory — the ProcessorService.ListProcessorPlugins /
# ConnectorService.ListConnectorPlugins analog (proto/api/v1/api.proto).
# Names here are exactly the literals build_processor/build_source/
# write_destination dispatch on; a contract test pins the two in sync.
PROCESSOR_PLUGINS: dict[str, str] = {
    "filter": "drop records matching the condition",
    "field.set": "set a field from a literal or template",
    "field.rename": "rename fields",
    "field.exclude": "remove fields",
    "field.convert": "convert a field's type",
    "json.decode": "parse a JSON string field into structured data",
    "json.encode": "serialize a structured field to a JSON string",
    "base64.encode": "base64-encode a field",
    "base64.decode": "base64-decode a field",
    "avro.encode": "Avro-encode the payload (schema registry aware)",
    "avro.decode": "Avro-decode the payload (schema registry aware)",
    "clone": "emit N copies of each record (adds clone.index)",
    "split": "split an array field into one record per element",
    "error": "route matching records to the DLQ",
    "unwrap.opencdc": "unwrap an OpenCDC envelope from the payload",
    "unwrap.debezium": "unwrap a Debezium envelope from the payload",
    "unwrap.kafkaconnect": "unwrap a Kafka Connect envelope",
    "webhook.http": "call an HTTP endpoint per record",
    "custom.python": "in-process per-record script: process(record)",
    "custom.standalone": "external executable over JSON-lines (any language)",
    "cohere.command": "LLM text generation (cohere)",
    "cohere.embed": "LLM embeddings (cohere)",
    "cohere.rerank": "LLM reranking (cohere)",
    "ollama.request": "LLM text generation (ollama)",
    "openai.embed": "LLM embeddings (openai)",
    "openai.textgen": "LLM text generation (openai)",
}

# Live replication tails started by builtin:postgres cdc.dsn settings,
# keyed (dsn, slot, capture_path) — one per process; callers stop them
# explicitly, else they die with the process (daemon pump threads).
_ACTIVE_WAL_TAILS: dict[tuple[str, str, str], Any] = {}

CONNECTOR_PLUGINS: dict[str, dict[str, Any]] = {
    "builtin:file": {
        "source": True,
        "destination": True,
        "description": "text/json/csv/parquet/orc files, batch + streaming",
    },
    "builtin:generator": {
        "source": True,
        "destination": False,
        "description": "synthetic records from field specs",
    },
    "builtin:kafka": {
        "source": True,
        "destination": True,
        "description": "Kafka topics (kafka.* client passthrough)",
    },
    "builtin:log": {
        "source": False,
        "destination": True,
        "description": "log records to the driver log",
    },
    "builtin:postgres": {
        "source": True,
        "destination": True,
        "description": "JDBC snapshot source; insert/upsert/CDC-apply sinks",
    },
    "builtin:s3": {
        "source": True,
        "destination": True,
        "description": (
            "s3a:// paths with credential/endpoint settings; "
            "transport=wire for the jar-free S3 REST object path"
        ),
    },
    "custom.standalone": {
        "source": True,
        "destination": True,
        "description": "external executable speaking envelope JSON-lines",
    },
}

# Settings without which build_source/write_destination raise KeyError,
# per (plugin, direction) — what ConnectorService.ValidateConnector
# (api.proto:824-850) checks before a pipeline ever runs.
_CONNECTOR_REQUIRED: dict[tuple[str, str], tuple[str, ...]] = {
    ("builtin:file", "source"): ("path",),
    ("builtin:file", "destination"): ("path",),
    ("builtin:s3", "source"): ("path",),
    ("builtin:s3", "destination"): ("path",),
    ("builtin:kafka", "source"): ("servers", "topic"),
    ("builtin:kafka", "destination"): ("servers", "topic"),
    ("builtin:postgres", "source"): ("url", "table"),
    ("builtin:postgres", "destination"): ("url", "table"),
    ("custom.standalone", "source"): ("command",),
    ("custom.standalone", "destination"): ("command",),
}


def validate_connector(
    ctype: str, plugin: str, settings: dict[str, Any]
) -> list[str]:
    """Config validation without instantiation — returns a list of
    human-readable errors (empty = valid). Mirrors the reference's
    ValidateConnector semantics: unknown plugin, wrong direction, and
    missing required settings are all reported at once."""
    errors: list[str] = []
    if ctype not in ("source", "destination"):
        errors.append(f"type must be source/destination, got {ctype!r}")
        return errors
    if plugin.startswith("standalone:"):
        # installed-plugin form: valid when the manifest resolves it
        from conduit_spark import plugin_registry

        try:
            plugin_registry.resolve_installed(
                plugin.split(":", 1)[1],
                root=settings.get("pluginRoot", plugin_registry.DEFAULT_ROOT),
            )
        except plugin_registry.RegistryError as e:
            errors.append(str(e))
        return errors
    info = CONNECTOR_PLUGINS.get(plugin)
    if info is None:
        errors.append(
            f"unknown connector plugin {plugin!r}; "
            f"known: {sorted(CONNECTOR_PLUGINS)}"
        )
        return errors
    if not info.get(ctype, False):
        errors.append(f"plugin {plugin!r} cannot act as a {ctype}")
    required = _CONNECTOR_REQUIRED.get((plugin, ctype), ())
    if plugin == "builtin:s3" and str(settings.get("transport", "jvm")) == "wire":
        # wire transport addresses objects by endpoint+bucket, not an
        # s3a:// path
        required = ("aws.url", "aws.bucket")
    if plugin == "builtin:kafka" and "topics" in settings:
        # the reference connector's plural form (comma-separated list)
        required = tuple(k for k in required if k != "topic")
    if (
        plugin == "builtin:postgres"
        and ctype == "source"
        and ("tables" in settings or "cdc.format" in settings)
    ):
        # plural snapshots need url+tables; pure CDC replay needs
        # neither url nor table (cdc.path feeds it)
        required = tuple(
            k
            for k in required
            if k != "table" and not ("cdc.format" in settings and k == "url")
        )
    for key in required:
        if key not in settings:
            errors.append(f"missing required setting {key!r}")
    if plugin == "builtin:postgres" and settings.get("writeMode") == "upsert":
        for key in ("keyColumns", "payloadSchema"):
            if key not in settings:
                errors.append(f"writeMode=upsert requires setting {key!r}")
    return errors


def build_processor(
    plugin: str,
    settings: dict[str, Any],
    condition: str | None = None,
    *,
    transports: dict[str, Any] | None = None,
) -> Transform:
    """Instantiate a processor transform from its YAML declaration."""
    t = transports or {}
    c = condition

    if plugin == "filter":
        return lambda df: ops.filter_records(df, condition=c)
    if plugin == "field.set":
        _require(settings, "field", "value")
        return lambda df: ops.field_set(
            df, settings["field"], settings["value"], condition=c
        )
    if plugin == "field.rename":
        _require(settings, "mapping")
        mapping = settings["mapping"]
        if isinstance(mapping, str):  # "old:new,old2:new2" flat form
            mapping = dict(pair.split(":", 1) for pair in mapping.split(","))
        elif isinstance(mapping, list):  # reference form: ["ref:name", ...]
            mapping = dict(pair.split(":", 1) for pair in mapping)
        return lambda df: ops.field_rename(df, mapping, condition=c)
    if plugin == "field.exclude":
        _require(settings, "fields")
        fields = settings["fields"]
        if isinstance(fields, str):
            fields = [f.strip() for f in fields.split(",")]
        return lambda df: ops.field_exclude(df, fields, condition=c)
    if plugin == "field.convert":
        _require(settings, "field", "type")
        return lambda df: ops.field_convert(
            df, settings["field"], settings["type"], condition=c
        )
    if plugin == "json.decode":
        return lambda df: ops.json_decode(
            df, settings.get("field", ".Payload.After"), condition=c
        )
    if plugin == "json.encode":
        return lambda df: ops.json_encode(
            df, settings.get("field", ".Payload.After"), condition=c
        )
    if plugin == "base64.encode":
        return lambda df: ops.base64_encode(
            df, settings.get("field", ".Payload.After"), condition=c
        )
    if plugin == "base64.decode":
        return lambda df: ops.base64_decode(
            df, settings.get("field", ".Payload.After"), condition=c
        )
    if plugin == "avro.encode":
        # explicit `schema`, or registry strategies per
        # impl/avro/config.go:22-57 (registry object injected via
        # transports["schema_registry"], or an EXTERNAL Confluent
        # registry via `registry.url` — config.go:45-46 external type)
        reg = t.get("schema_registry") or _rest_registry(settings)
        if "schema" in settings:
            return lambda df: ops.avro_encode(df, settings["schema"], condition=c)
        strategy = settings.get("schema.strategy", "autoRegister")
        subject = settings.get(
            f"schema.{strategy}.subject", settings.get("schema.subject")
        )
        version = settings.get("schema.preRegistered.version")
        if reg is None:
            raise ValueError(
                "avro.encode needs `schema` or a schema_registry transport"
            )
        return lambda df: ops.avro_encode(
            df,
            registry=reg,
            subject=subject,
            strategy=strategy,
            version=int(version) if version is not None else None,
            condition=c,
        )
    if plugin == "avro.decode":
        reg = t.get("schema_registry") or _rest_registry(settings)
        if "schema" not in settings and reg is None:
            raise ValueError(
                "avro.decode needs `schema` or a schema_registry transport"
            )
        return lambda df: ops.avro_decode(
            df, settings.get("schema"), registry=reg, condition=c
        )
    if plugin == "clone":
        # reference name is `count` (clone.go:41); `times` kept as alias
        n = settings.get("count", settings.get("times"))
        if n is None:
            raise ValueError("clone needs 'count'")
        return lambda df: ops.clone(df, int(n), condition=c)
    if plugin == "split":
        _require(settings, "field")
        return lambda df: ops.split(df, settings["field"], condition=c)
    if plugin == "error":
        return lambda df: ops.error(
            df, settings.get("message", "error processor triggered"), condition=c
        )
    if plugin in ("custom.python", "custom.javascript"):
        if plugin == "custom.javascript":
            raise ValueError(
                "custom.javascript (goja) is not embedded; declare the same "
                "per-record logic as custom.python with a `script` defining "
                "process(record) -> record|None "
                "(ADR 20260704-no-bespoke-dsl)"
            )
        src = settings.get("script")
        path = settings.get("script.path")
        if not src and not path:
            raise ValueError("custom.python needs 'script' or 'script.path'")
        if not src:
            with open(path) as fh:
                src = fh.read()
        ns: dict[str, Any] = {}
        exec(compile(src, path or "<custom.python>", "exec"), ns)  # noqa: S102 — config-declared user code, same trust model as the reference's JS scripts
        fn = ns.get("process")
        if not callable(fn):
            raise ValueError("custom.python script must define process(record)")
        return lambda df: _with_condition_passthrough(
            df, c, lambda d: ops.custom_python(d, fn)
        )
    if plugin == "custom.standalone":
        _require(settings, "command")
        cmd = settings["command"]
        if isinstance(cmd, str):
            import shlex

            cmd = shlex.split(cmd)  # quoted args (e.g. -c "…") stay whole
        sandbox = settings.get("sandbox")
        egress = settings.get("egress")
        return lambda df: _with_condition_passthrough(
            df,
            c,
            lambda d: ops.custom_subprocess(
                d, list(cmd), sandbox=sandbox, egress=egress
            ),
        )
    if plugin == "unwrap.debezium":
        return lambda df: ops.unwrap_debezium(df, condition=c)
    if plugin == "unwrap.kafkaconnect":
        return lambda df: ops.unwrap_kafka_connect(df, condition=c)
    if plugin == "unwrap.opencdc":
        return lambda df: ops.unwrap_opencdc(df, condition=c)
    if plugin == "webhook.http":
        # accept both the reference's request.* names and the bare ones
        url = settings.get("request.url") or settings.get("url")
        if not url:
            raise ValueError("webhook.http needs 'request.url' (or 'url')")
        # an `egress:` block routes the calls through the same
        # two-stage SSRF boundary standalone plugins get (an injected
        # test transport still wins)
        transport = t.get("http")
        if transport is None and settings.get("egress"):
            transport = ops.policy_transport(settings["egress"])
        return lambda df: ops.webhook_http(
            df,
            url,
            method=settings.get("request.method") or settings.get("method", "GET"),
            headers=settings.get("headers"),
            body=settings.get("request.body") or settings.get("body"),
            content_type=settings.get("request.contentType"),
            response_field=settings.get("response.body", ".Payload.After"),
            response_status_field=settings.get("response.status"),
            transport=transport,
            retries=int(settings.get("backoffRetry.count", 3)),
            backoff_s=float(settings.get("backoffRetry.min", 0.1)),
            concurrency=int(settings.get("concurrency", 16)),
            condition=c,
        )
    if plugin in ("cohere.command", "ollama.request", "openai.textgen"):
        provider = plugin.split(".")[0]
        _require(settings, "prompt")
        return lambda df: ops.llm_transform(
            df,
            provider=provider,
            model=settings.get("model", "default"),
            prompt=settings["prompt"],
            output_field=settings.get("responseBodyRef", ".Payload.After"),
            transport=t.get(provider) or t.get("llm"),
            concurrency=int(settings.get("concurrency", 16)),
            condition=c,
            params=_gen_params(settings, _TEXTGEN_PARAMS),
        )
    if plugin in ("cohere.embed", "openai.embed"):
        provider = plugin.split(".")[0]
        _require(settings, "inputField")
        return lambda df: ops.llm_embed(
            df,
            provider=provider,
            model=settings.get("model", "default"),
            input_field=settings["inputField"],
            transport=t.get(provider) or t.get("llm"),
            max_texts_per_request=int(settings.get("maxTextsPerRequest", 96)),
            condition=c,
            params=_gen_params(settings, _EMBED_PARAMS),
        )
    if plugin == "cohere.rerank":
        _require(settings, "query", "inputField")
        return lambda df: ops.llm_rerank(
            df,
            provider="cohere",
            model=settings.get("model", "default"),
            query=settings["query"],
            input_field=settings["inputField"],
            transport=t.get("cohere") or t.get("llm"),
            condition=c,
            params=_gen_params(settings, ()),
        )
    if plugin.startswith("standalone:"):
        # registry-installed processor artifact (reference
        # 20260727-registry-processor-artifacts.md: processors ride the
        # connector registry's trust core; `processor-plugins install`
        # analog is `connectors install --kind processor`). The
        # installed executable speaks the custom.standalone JSON-lines
        # protocol; sandbox/egress blocks apply as usual.
        cmd = _standalone_command(plugin, settings, kind="processor")
        sandbox = settings.get("sandbox")
        egress = settings.get("egress")
        # Dialect is manifest-declared: scaffolded project artifacts
        # (zipapps embedding plugin.yaml `protocol: jsonlines/v2`) get
        # ONE configure line carrying their settings before the record
        # stream — the standalone connector handshake. Legacy
        # single-file v1 processors stay records-only.
        configure = None
        if plugin_protocol(cmd[0]) == "jsonlines/v2":
            child_settings = {
                k: v
                for k, v in settings.items()
                if k not in ("sandbox", "egress", "pluginRoot", "command")
            }
            configure = {
                "settings": child_settings,
                "connector_id": plugin,
            }
        return lambda df: _with_condition_passthrough(
            df,
            c,
            lambda d: ops.custom_subprocess(
                d,
                cmd,
                sandbox=sandbox,
                egress=egress,
                configure=configure,
            ),
        )
    raise ValueError(f"unknown processor plugin {plugin!r}")


def _rest_registry(settings: dict[str, Any]):
    """An external Confluent registry client when `registry.url` is
    declared (pkg/conduit/config.go external schema-registry type)."""
    url = settings.get("registry.url")
    if not url:
        return None
    from conduit_spark.schema_registry import RestSchemaRegistry

    return RestSchemaRegistry(str(url))


def build_source(
    spark: SparkSession,
    plugin: str,
    settings: dict[str, Any],
    source_id: str,
    *,
    streaming: bool = False,
) -> DataFrame:
    """Instantiate a source connector DataFrame."""
    if plugin == "builtin:generator":
        fields = settings.get("format.options") or settings.get("fields") or {}
        ops_setting = settings.get("operations")
        if isinstance(ops_setting, str):
            ops_setting = [o.strip() for o in ops_setting.split(",")]
        colls = settings.get("collections")
        if isinstance(colls, str):
            colls = [x.strip() for x in colls.split(",")]
        return generator_source(
            spark,
            fields=dict(fields),
            record_count=int(settings["recordCount"]) if "recordCount" in settings else None,
            rate=float(settings.get("rate", 10)),
            source_id=source_id,
            streaming=streaming,
            operations=ops_setting,
            fmt=settings.get("format.type", "structured"),
            collections=colls,
        )
    if plugin in ("builtin:file", "builtin:s3"):
        if plugin == "builtin:s3":
            if str(settings.get("transport", "jvm")) == "wire":
                # jar-free S3 REST path (no hadoop-aws needed): list +
                # parallel GET through the engine's own protocol
                # client. Batch reads the range cdc.since (default:
                # everything) up to the current listing; streaming
                # tails it, one CDC polling cycle per micro-batch with
                # the LastModified watermark in the checkpoint.
                from conduit_spark.sources import pyds
                from conduit_spark.sources.s3_wire import envelope_from_s3

                df = pyds.load(
                    spark, "conduit-s3-wire", settings, streaming=streaming
                )
                return envelope_from_s3(
                    df,
                    source_id,
                    str(settings["aws.bucket"]),
                    operation=(
                        "create"
                        if streaming or "cdc.since" in settings
                        else "snapshot"
                    ),
                )
            apply_s3_conf(spark, settings)
        ropts = {}
        if "maxFilesPerTrigger" in settings:
            # the standard file-stream rate limit (one setting users
            # expect from the JVM file source); everything else stays
            # behind the explicit keys above
            ropts["maxFilesPerTrigger"] = str(settings["maxFilesPerTrigger"])
        return file_source(
            spark,
            settings["path"],
            fmt=settings.get("format", "text"),
            source_id=source_id,
            schema=settings.get("schema"),
            streaming=streaming,
            reader_options=ropts or None,
        )
    if plugin == "builtin:postgres":
        # Four modes, mirroring the reference source's snapshot + CDC
        # (pkg/plugin/connector/builtin/registry.go:42-49):
        #   url+table+cdc.path+cdc.snapshotLsn — snapshot→CDC HANDOFF:
        #     JDBC snapshot as of the slot LSN, then only WAL changes
        #     strictly after it (the reference's consistent cutover)
        #   cdc.format=wal2json  — logical-replication feed captured by
        #     pg_recvlogical into cdc.path (v2 line format; v1 via
        #     cdc.formatVersion: 1); streaming tails the directory
        #   cdc.format=pgoutput  — length-framed binary capture files
        #   (default)            — JDBC snapshot (operation=snapshot)
        if "url" in settings and "cdc.path" in settings:
            from conduit_spark.sources.postgres_wal import (
                snapshot_handoff_source,
            )

            if "cdc.snapshotLsn" not in settings:
                raise ValueError(
                    "snapshot+CDC handoff needs cdc.snapshotLsn (the "
                    "replication slot's consistent point; the reference "
                    "source records it when creating the slot)"
                )
            key_cols = settings.get("keyColumns")
            if isinstance(key_cols, str):
                key_cols = [k.strip() for k in key_cols.split(",")]
            snapshot_df = (
                spark.read.format("jdbc")
                .option("url", settings["url"])
                .option("dbtable", settings["table"])
                .options(
                    **{
                        k: str(v)
                        for k, v in (settings.get("options") or {}).items()
                    }
                )
                .load()
            )
            return snapshot_handoff_source(
                spark,
                snapshot_df,
                settings["cdc.path"],
                snapshot_lsn=settings["cdc.snapshotLsn"],
                key_cols=key_cols or [snapshot_df.columns[0]],
                collection=settings.get("collection", settings["table"]),
                source_id=source_id,
                streaming_tail=streaming,
                format_version=int(settings.get("cdc.formatVersion", 2)),
            )
        cdc_format = settings.get("cdc.format")
        if cdc_format:
            from conduit_spark.sources.postgres_wal import (
                pgoutput_source,
                wal2json_source,
            )

            key_cols = settings.get("keyColumns")
            if isinstance(key_cols, str):
                key_cols = [k.strip() for k in key_cols.split(",")]
            if "cdc.dsn" in settings:
                # LIVE tailing over the engine's own replication-wire
                # client: a walsender endpoint streams into cdc.path
                # (rotating capture files) and the slot is confirmed
                # only after a file is durably in place. One tail per
                # (dsn, slot, path) per process; daemon lifecycle —
                # stop via the returned tail in
                # _ACTIVE_WAL_TAILS[(dsn, slot, path)].
                if cdc_format != "wal2json":
                    raise ValueError(
                        "cdc.dsn live tailing streams wal2json; capture "
                        "pgoutput offline instead"
                    )
                from conduit_spark.sources.postgres_wal import LiveWalTail

                key = (
                    str(settings["cdc.dsn"]),
                    str(settings.get("cdc.slot", "conduit_spark")),
                    str(settings["cdc.path"]),
                )
                if key not in _ACTIVE_WAL_TAILS:
                    # libpq-style auth/TLS settings (round 9): cdc.user
                    # / cdc.password (SCRAM), cdc.sslmode +
                    # cdc.sslrootcert (STARTTLS, CA pin), cdc.sslcert +
                    # cdc.sslkey (mTLS client certificate)
                    _ACTIVE_WAL_TAILS[key] = LiveWalTail(
                        key[2],
                        slot=key[1],
                        format_version=int(
                            settings.get("cdc.formatVersion", 2)
                        ),
                    ).start_native(
                        key[0],
                        slot=key[1],
                        user=str(settings.get("cdc.user", "conduit")),
                        password=(
                            str(settings["cdc.password"])
                            if "cdc.password" in settings else None
                        ),
                        sslmode=str(settings.get("cdc.sslmode", "disable")),
                        ssl_ca=(
                            str(settings["cdc.sslrootcert"])
                            if "cdc.sslrootcert" in settings else None
                        ),
                        sslcert=(
                            str(settings["cdc.sslcert"])
                            if "cdc.sslcert" in settings else None
                        ),
                        sslkey=(
                            str(settings["cdc.sslkey"])
                            if "cdc.sslkey" in settings else None
                        ),
                    )
            if cdc_format == "wal2json":
                return wal2json_source(
                    spark,
                    settings["cdc.path"],
                    source_id=source_id,
                    streaming=streaming,
                    format_version=int(settings.get("cdc.formatVersion", 2)),
                    key_cols=key_cols,
                )
            if cdc_format == "pgoutput":
                if streaming:
                    raise ValueError(
                        "cdc.format=pgoutput captures are batch-replayed; "
                        "use cdc.format=wal2json for a streaming tail"
                    )
                return pgoutput_source(
                    spark, settings["cdc.path"], source_id=source_id
                )
            raise ValueError(
                f"cdc.format must be wal2json or pgoutput, got {cdc_format!r}"
            )
        if streaming:
            raise ValueError(
                "builtin:postgres streams via cdc.format=wal2json or "
                "kafka+unwrap.debezium; direct source is snapshot (batch) only"
            )
        import pyspark.sql.functions as F

        from conduit_spark import envelope as env

        key_cols = settings.get("keyColumns")
        if isinstance(key_cols, str):
            key_cols = [k.strip() for k in key_cols.split(",")]

        def snapshot(table: str, *, with_collection: bool):
            df = (
                spark.read.format("jdbc")
                .option("url", settings["url"])
                .option("dbtable", table)
                .options(
                    **{
                        k: str(v)
                        for k, v in (settings.get("options") or {}).items()
                    }
                )
                .load()
            )
            out = env.from_table(
                df,
                key_cols=key_cols or [df.columns[0]],
                source_id=source_id,
                operation="snapshot",
            )
            if with_collection:
                # multi-table snapshots tag each record with its
                # source table (the reference's opencdc.collection)
                out = out.withColumn(
                    "metadata",
                    F.map_concat(
                        "metadata",
                        F.create_map(
                            F.lit(env.META_COLLECTION), F.lit(table)
                        ),
                    ),
                )
            return out

        tables_setting = settings.get("tables")
        if tables_setting:
            # the reference's plural form: comma-separated table list,
            # one snapshot per table unioned with collection metadata
            tables = [
                t.strip() for t in str(tables_setting).split(",") if t.strip()
            ]
            parts = [snapshot(t, with_collection=True) for t in tables]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=False)
            return out
        return snapshot(settings["table"], with_collection=False)
    if plugin == "custom.standalone" or plugin.startswith("standalone:"):
        # any-language source plugin as a subprocess (the standalone
        # connector dispenser analog, dispenser.go:25); the
        # "standalone:<name>[@version]" form resolves the executable
        # through the installed-plugin manifest (plugin_registry.py)
        if streaming:
            raise ValueError(
                "standalone sources are batch/snapshot only; wrap "
                "the plugin in a file/kafka stream for continuous feeds"
            )
        from conduit_spark.sources.standalone import standalone_source

        command = _standalone_command(plugin, settings)
        child_settings = {k: v for k, v in settings.items() if k != "command"}
        return standalone_source(
            spark,
            command,
            settings=child_settings,
            source_id=source_id,
        )
    if plugin == "builtin:kafka":
        if str(settings.get("transport", "jvm")) == "wire":
            # jar-free kafka wire client: per-topic-partition offset
            # ranges (the JVM kafka source's offset model); batch reads
            # one range up to the log end, streaming keeps the offsets
            # in the checkpoint
            from conduit_spark.sources import pyds

            df = pyds.load(
                spark, "conduit-kafka-wire", settings, streaming=streaming
            )
            return envelope_from_kafka(df, source_id)
        reader = spark.readStream if streaming else spark.read
        df = reader.format("kafka").options(**kafka_reader_options(settings)).load()
        return envelope_from_kafka(df, source_id)
    raise ValueError(f"unknown source plugin {plugin!r}")


def _duration_ms(v, *, default_ms: int) -> int:
    """Reference Go-duration settings ("5s", "500ms", "1m") or a bare
    number of SECONDS -> milliseconds."""
    if v is None:
        return default_ms
    t = str(v).strip()
    if t.endswith("ms"):
        return int(float(t[:-2]))
    if t.endswith("s"):
        return int(float(t[:-1]) * 1000)
    if t.endswith("m"):
        return int(float(t[:-1]) * 60_000)
    return int(float(t) * 1000)


def kafka_reader_options(settings: dict[str, Any]) -> dict[str, str]:
    """Settings → spark-sql-kafka reader options (conduit-connector-
    kafka's servers/topics model). ``kafkaOptions`` passes through
    arbitrary ``kafka.*`` client / source options verbatim, so
    security configs (SASL/TLS) declare exactly like the reference's
    connector settings."""
    opts = {
        "kafka.bootstrap.servers": str(settings["servers"]),
        "subscribe": str(settings["topic"]),
    }
    if "startingOffsets" in settings:
        opts["startingOffsets"] = str(settings["startingOffsets"])
    if "failOnDataLoss" in settings:
        opts["failOnDataLoss"] = str(settings["failOnDataLoss"]).lower()
    for k, v in (settings.get("kafkaOptions") or {}).items():
        opts[str(k)] = str(v)
    return opts


def envelope_from_kafka(df: DataFrame, source_id: str) -> DataFrame:
    """Project the kafka source schema (key, value, topic, partition,
    offset) into OpenCDC envelopes; position is topic:partition:offset
    — the reference's kafka position encoding."""
    import pyspark.sql.functions as F

    return df.select(
        F.concat(
            F.col("topic"), F.lit(":"),
            F.col("partition").cast("string"), F.lit(":"),
            F.col("offset").cast("string"),
        ).cast("binary").alias("position"),
        F.lit("create").alias("operation"),
        F.create_map(
            F.lit("conduit.source.connector.id"), F.lit(source_id),
            F.lit("kafka.topic"), F.col("topic"),
            F.lit("kafka.offset"), F.col("offset").cast("string"),
        ).alias("metadata"),
        F.col("key").alias("key_raw"),
        F.lit(None).cast("string").alias("key_json"),
        F.lit(None).cast("string").alias("payload_before_json"),
        F.lit(None).cast("string").alias("payload_after_json"),
        F.col("value").alias("payload_after_raw"),
        F.lit(False).alias("is_structured"),
    )


# conduit-connector-s3-style setting names → fs.s3a.* Hadoop conf
_S3_CONF_MAP = {
    "aws.accessKeyId": "fs.s3a.access.key",
    "aws.secretAccessKey": "fs.s3a.secret.key",
    "aws.sessionToken": "fs.s3a.session.token",
    "aws.region": "fs.s3a.endpoint.region",
    "aws.url": "fs.s3a.endpoint",  # custom endpoint (minio etc.)
    "aws.pathStyle": "fs.s3a.path.style.access",
}


def apply_s3_conf(spark: SparkSession, settings: dict[str, Any]) -> dict[str, str]:
    """Map the reference's S3 connector credentials/endpoint settings
    onto the Hadoop s3a filesystem conf of this session; returns what
    was applied. Called for every builtin:s3 connector so a YAML
    pipeline ports 1:1 from the reference."""
    applied: dict[str, str] = {}
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for setting, hadoop_key in _S3_CONF_MAP.items():
        if setting in settings:
            val = str(settings[setting])
            if setting == "aws.pathStyle":
                val = val.lower()
            conf.set(hadoop_key, val)
            applied[hadoop_key] = val
    return applied


# apply_s3_conf writes the session-wide Hadoop conf, and s3a builds
# (and caches per bucket) its FileSystem from that conf when a write
# first touches the bucket. A JVM-transport s3 write holds this lock
# from its conf to its last job, so the concurrent writes of one batch
# (Pipeline._deliver) never open a bucket under another write's
# endpoint or keys.
_S3A_CONF_LOCK = threading.Lock()


def _file_write(df: DataFrame, settings: dict[str, Any]) -> None:
    from conduit_spark import sinks

    sinks.file_sink(
        df,
        settings["path"],
        fmt=settings.get("format", "json"),
        mode=settings.get("mode", "append"),
        partition_by_collection=bool(settings.get("partitionByCollection", False)),
        record_format=(
            str(settings["sdk.record.format"])
            if "sdk.record.format" in settings else None
        ),
        record_format_options=(
            str(settings["sdk.record.format.options"])
            if "sdk.record.format.options" in settings else None
        ),
    )


def write_destination(
    df: DataFrame, plugin: str, settings: dict[str, Any]
) -> None:
    """Execute a destination write for one (micro-)batch."""
    from conduit_spark import sinks

    if plugin == "builtin:file":
        _file_write(df, settings)
        return
    if plugin == "builtin:s3":
        if str(settings.get("transport", "jvm")) == "wire":
            from conduit_spark.sources.pyds import s3_creds
            from conduit_spark.sources.s3_wire import s3_wire_sink

            s3_wire_sink(
                df,
                str(settings["aws.url"]),
                str(settings["aws.bucket"]),
                str(settings.get("prefix", "")),
                fmt=str(settings.get("format", "json")),
                buffer_size=int(settings.get("bufferSize", 1000)),
                creds=s3_creds(settings),
            )
            return
        with _S3A_CONF_LOCK:
            apply_s3_conf(df.sparkSession, settings)
            _file_write(df, settings)
        return
    if plugin == "builtin:log":
        sinks.log_sink(
            df,
            n=int(settings.get("n", 20)),
            level=str(settings.get("level", "info")),
            message=(
                str(settings["message"]) if "message" in settings else None
            ),
        )
        return
    if plugin == "builtin:postgres":
        if settings.get("writeMode") == "upsert":
            key_cols = settings["keyColumns"]
            if isinstance(key_cols, str):
                key_cols = [k.strip() for k in key_cols.split(",")]
            sinks.jdbc_cdc_sink(
                df,
                settings["url"],
                settings["table"],
                key_cols,
                settings["payloadSchema"],
                options=settings.get("options"),
            )
            return
        sinks.jdbc_sink(
            df,
            settings["url"],
            settings["table"],
            options=settings.get("options"),
        )
        return
    if plugin == "builtin:kafka":
        if str(settings.get("transport", "jvm")) == "wire":
            from conduit_spark.sources.pyds import kafka_sasl, kafka_tls

            sinks.kafka_wire_sink(
                df,
                settings["servers"],
                settings["topic"],
                compression=settings.get("compression"),
                acks=settings.get("acks", "all"),
                delivery_timeout_ms=_duration_ms(
                    settings.get("deliveryTimeout"), default_ms=30000
                ),
                client_id=str(
                    settings.get("clientID", "conduit-spark")
                ),
                batch_bytes=(
                    int(settings["batchBytes"])
                    if "batchBytes" in settings else None
                ),
                sasl=kafka_sasl(settings),
                tls=kafka_tls(settings),
            )
            return
        sinks.kafka_sink(
            df,
            settings["servers"],
            settings["topic"],
            extra_options=settings.get("kafkaOptions"),
        )
        return
    if plugin == "custom.standalone" or plugin.startswith("standalone:"):
        from conduit_spark.sources.standalone import standalone_sink

        command = _standalone_command(plugin, settings)
        child_settings = {k: v for k, v in settings.items() if k != "command"}
        standalone_sink(
            df,
            command,
            settings=child_settings,
            connector_id=settings.get("connectorId", "standalone"),
        )
        return
    raise ValueError(f"unknown destination plugin {plugin!r}")


def plugin_protocol(artifact_path: str) -> str:
    """The JSON-lines dialect an installed plugin artifact speaks.

    Scaffolded projects ship as zipapps with a ``plugin.yaml``
    manifest whose ``protocol:`` line declares ``jsonlines/v2``
    (configure-first). Anything else — legacy single-file skeletons,
    foreign executables, unreadable manifests — is ``jsonlines/v1``
    (records-only), so the sniff NEVER breaks a working v1 plugin.
    ``zipfile`` locates the archive from the end-of-central-directory
    record, so the shebang line zipapp prepends is transparent."""
    import zipfile

    try:
        if not zipfile.is_zipfile(artifact_path):
            return "jsonlines/v1"
        with zipfile.ZipFile(artifact_path) as zf:
            if "plugin.yaml" not in zf.namelist():
                return "jsonlines/v1"
            manifest = zf.read("plugin.yaml").decode("utf-8", "replace")
    except (OSError, ValueError):
        return "jsonlines/v1"
    for line in manifest.splitlines():
        line = line.split("#", 1)[0].strip()
        if line.startswith("protocol:"):
            return line.split(":", 1)[1].strip()
    return "jsonlines/v1"


def _standalone_command(
    plugin: str, settings: dict[str, Any], *, kind: str = "connector"
):
    """The subprocess command for a standalone plugin: explicit
    ``command`` for ``custom.standalone``; manifest resolution for the
    installed form ``standalone:<name>[@version]`` — the ONE
    resolution path for connector and processor artifacts alike."""
    if plugin == "custom.standalone":
        return settings["command"]
    from conduit_spark import plugin_registry

    root = settings.get("pluginRoot", plugin_registry.DEFAULT_ROOT)
    return [
        plugin_registry.resolve_installed(
            plugin.split(":", 1)[1], root=root, kind=kind
        )
    ]
