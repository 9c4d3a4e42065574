"""Custom stateful streaming operators (applyInPandasWithState).

The reference's extension point for stateful logic is a standalone
WASM processor with host-side state; Spark's is
``applyInPandasWithState`` — per-key state in the state store,
checkpointed with the query. ``running_dedup_state`` implements
cross-micro-batch exact dedup (first occurrence wins), the streaming
complement of analytics.dedup.d_exact.

Scale: state is partitioned by key; per-key state here is a single
boolean presence marker (a seen-set sharded across the cluster), with
optional TTL via timeout to bound it in long-running streams.

This is the engine's single custom-stateful API. State that merges by
an associative, commutative operation — the HLL register max and the
histogram bin sum of ``streaming.sketches`` — needs no custom
operator: it runs as a native streaming aggregation in the JVM state
store, with no Python worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("dedup_key", StringType()),
        StructField("first_payload", StringType()),
        StructField("n_duplicates_dropped", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("seen", LongType())]
)


def _make_dedup_fn(ttl_ms: int | None):
    def _dedup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expired with no new arrivals: evict the presence
            # marker; the next occurrence of the key re-emits (the
            # bounded-state contract — dedup-within-TTL, not forever)
            state.remove()
            return
        already_seen = state.exists
        total = 0
        first_payload = None
        for pdf in pdfs:
            if first_payload is None and len(pdf) > 0:
                first_payload = pdf["payload_after_json"].iloc[0]
            total += len(pdf)
        if already_seen:
            (seen,) = state.get
            state.update((seen + total,))
        else:
            state.update((total,))
        if ttl_ms is not None:
            # sliding TTL: every sighting extends the suppression window
            state.setTimeoutDuration(ttl_ms)
        if already_seen:
            return  # key already emitted in an earlier batch — all dups
        yield pd.DataFrame(
            {
                "dedup_key": [key[0]],
                "first_payload": [first_payload],
                "n_duplicates_dropped": [total - 1],
            }
        )

    return _dedup_fn


def running_dedup_state(
    env_stream: DataFrame, key_col: str = "key_json", ttl_ms: int | None = None
) -> DataFrame:
    """Exactly-one-record-per-key across the stream.

    ``ttl_ms=None``: lifetime dedup — state is one marker per distinct
    key, forever (fine when key cardinality is bounded). With
    ``ttl_ms``, a key's marker is evicted after that long without a
    sighting, so state is bounded by the keys active in any TTL window
    — the 100 TB/unbounded-keyspace configuration — at the cost of
    re-emitting a key that falls silent longer than the TTL.

    Works on streaming *and* batch-grouped data; state survives
    restarts via the checkpoint."""
    return (
        env_stream.groupBy(key_col)
        .applyInPandasWithState(
            _make_dedup_fn(ttl_ms),
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )
