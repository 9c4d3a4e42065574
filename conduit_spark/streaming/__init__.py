"""Structured Streaming surface.

The reference has no event-time processing — ordering is by source
position, late data doesn't exist as a concept (SURVEY.md §2.4). For
the Spark-native engine these are first-class: tumbling/sliding/
session windows with watermarks, plus the stream-inspector analog
(pkg/inspector/inspector.go:33-68 — tap a running pipeline with a
bounded buffer), a custom stateful operator via
applyInPandasWithState (the extension point the reference serves with
WASM standalone processors), and continuous HLL/histogram sketches as
native streaming aggregations.
"""

from conduit_spark.streaming.windows import (  # noqa: F401
    session_aggregate,
    sliding_aggregate,
    tumbling_aggregate,
)
from conduit_spark.streaming.inspector import StreamInspector  # noqa: F401
from conduit_spark.streaming.stateful import running_dedup_state  # noqa: F401
from conduit_spark.streaming.sketches import (  # noqa: F401
    running_hist_quantiles,
    running_hll_distinct,
)
from conduit_spark.streaming.rollup import (  # noqa: F401
    merge_rollup_batch,
    rollup_aggregate,
    start_incremental_rollup,
)
