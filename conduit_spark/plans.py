"""Materialization barriers and the physical-plan audit: the one
checkpoint primitive every query uses, and the scale-smell report
behind ``cli plan`` and the fleet-wide ``cli audit``.

The engine's 100 TB posture is enforced twice: statically by
tests/test_plan_shapes.py, and operationally by
``python -m conduit_spark plan <query>`` / ``audit`` which print the
executed plan plus the audit below — the checklist a reviewer walks
before promoting a query to a big cluster:

- **global window** — ``Window`` without partition columns funnels the
  whole relation through one task (the round-2 q15 regression class);
  both renderings are caught: frame-only specs AND order-only specs
  (partition columns render bare; order columns carry ASC/DESC).
- **cartesian** — ``CartesianProduct`` is quadratic;
- **single-partition exchange** — ``Exchange SinglePartition`` whose
  child is NOT a scalar partial aggregate collapses parallelism on
  real data. The scalar-agg idiom (final agg above, ``keys=[]``
  partial below) is benign — every ``df.agg(count)`` has one — and is
  not counted.

Known-and-documented funnels are declared in :data:`WAIVED` with the
reason; they are reported under ``waived`` instead of ``smells`` so
the audit exit code stays meaningful as a CI gate.
"""

from __future__ import annotations

import contextlib
import re
from contextvars import ContextVar

from pyspark.sql import DataFrame

SMELL_GLOBAL_WINDOW = "global-window"

# --- materialization barriers -----------------------------------------
#
# Every lineage cut in the engine goes through this module. A
# checkpoint replaces the upstream DAG with ``Scan ExistingRDD`` in the
# executed plan, so a plan audit taken on a checkpointed query sees
# only the post-checkpoint fragment (``plan s_semantic_dedup`` once
# reported ``joins: []`` for a query with two joins). The audit
# therefore builds its DataFrame inside ``barriers_disabled()``, which
# sets a context-local flag: ``barrier`` then returns its input
# unchanged, and helpers that materialize by other means
# (``_materialized_fixture``'s temp-parquet write, ``ordered_result``)
# read ``barriers_suspended()`` and inline their build plan instead.
# The flag is a ``ContextVar``, so audit mode covers only the thread
# that asked for it; a pipeline or streaming callback running on
# another thread keeps its real barriers.
#
# ``iteration_barrier`` is the always-real cut: convergence loops
# (connected components, PageRank, MMR, BPE-train) reference the
# previous round's relation more than once, so without truncation the
# unrolled lineage DOUBLES per round and the audit would hang in
# Catalyst analysis long before printing a plan. The same goes for a
# cut that correctness depends on, such as reading a table before
# overwriting it. What the audit sees there is one round's shape plus
# the full (un-checkpointed) loop INPUT, the honest unit of review for
# an iterative algorithm.

_SUSPENDED: ContextVar[bool] = ContextVar("barriers_suspended", default=False)


def barriers_suspended() -> bool:
    """True while this context builds a query for a plan audit."""
    return _SUSPENDED.get()


@contextlib.contextmanager
def barriers_disabled():
    """Build queries in this context without materialization barriers."""
    token = _SUSPENDED.set(True)
    try:
        yield
    finally:
        _SUSPENDED.reset(token)


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint ``df`` (executor-local blocks, freed with the
    DataFrame), or return it unchanged under a plan audit."""
    return df if _SUSPENDED.get() else df.localCheckpoint(eager)


def iteration_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """A checkpoint that stays real under :func:`barriers_disabled`.

    ONLY for in-loop state whose plan would otherwise double per
    iteration, or a cut that correctness needs; everything else uses
    :func:`barrier` so the audit can see through it.
    """
    return df.localCheckpoint(eager)


@contextlib.contextmanager
def scoped_cache(df: DataFrame):
    """Persist ``df`` for the ``with`` block and always unpersist it on
    the way out, on the error path too: a CacheManager entry outlives
    the query otherwise."""
    cached = df.persist()
    try:
        yield cached
    finally:
        cached.unpersist()


SMELL_CARTESIAN = "cartesian-product"
SMELL_SINGLE_PARTITION = "single-partition-exchange"

# query name -> {smell: reason}. A waiver is a reviewed, documented
# exception — the audit still reports it, just not as a failure.
WAIVED: dict[str, dict[str, str]] = {
    "c_pack_blocks": {
        SMELL_SINGLE_PARTITION: (
            "two-phase prefix sum: the one funnel reads the "
            "4096x-reduced bucket relation, not the corpus"
        ),
        SMELL_GLOBAL_WINDOW: (
            "the global running sum runs over the bucket relation "
            "(n_docs/4096 rows) — the fix for this smell, not the smell"
        ),
    },
    "cur_token_budget": {
        SMELL_SINGLE_PARTITION: (
            "two-LEVEL banded prefix sum: the one funnel reads the "
            "coarse-band sums (~sqrt(n_docs/4096) rows)"
        ),
        SMELL_GLOBAL_WINDOW: (
            "the global running sum runs over the coarse-band "
            "relation (~sqrt(n_docs/4096) rows, ~16k at 1e12 docs) — "
            "the fix for this smell, not the smell"
        ),
    },
}


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _window_spec_args(plan: str):
    """Yield the argument list of every ``windowspecdefinition(...)`` in
    the plan, split at top-level commas with paren-depth tracking — a
    flat regex span cannot cross a parenthesized sort key like
    ``cast(x as double) ASC``."""
    marker = "windowspecdefinition("
    start = 0
    while True:
        i = plan.find(marker, start)
        if i < 0:
            return
        j = i + len(marker)
        depth, arg_start, args = 1, j, []
        while j < len(plan) and depth > 0:
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append(plan[arg_start:j].strip())
            elif c == "," and depth == 1:
                args.append(plan[arg_start:j].strip())
                arg_start = j + 1
            j += 1
        yield [a for a in args if a]
        start = j


def _global_windows(plan: str) -> bool:
    for args in _window_spec_args(plan):
        # partition columns render bare; order columns carry ASC/DESC;
        # the frame spec is the trailing specifiedwindowframe(...) arg.
        # No bare arg => no partition columns => global window.
        non_frame = [a for a in args if not a.startswith("specifiedwindowframe")]
        if not non_frame:
            return True  # frame-only spec
        if all(
            a.endswith((" ASC", " DESC"))
            or " ASC NULLS" in a
            or " DESC NULLS" in a
            for a in non_frame
        ):
            return True  # order-only spec (no partitioning)
    return False


def _hot_single_partition_exchanges(plan: str) -> int:
    """Single-partition exchanges whose child is not a scalar partial
    aggregate (``keys=[]``) — the ones that funnel real data."""
    hot = 0
    lines = plan.splitlines()
    # AQE / codegen wrappers that can sit between the Exchange and the
    # partial aggregate without changing the data flow
    wrapper = re.compile(
        r"^[\s*+:()\-]*(ShuffleQueryStage|AQEShuffleRead|InputAdapter|"
        r"WholeStageCodegen|ReusedExchange)"
    )
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        j = i + 1
        while j < len(lines) and wrapper.search(lines[j]):
            j += 1
        child = lines[j] if j < len(lines) else ""
        if re.search(r"(Hash|Sort)Aggregate\(keys=\[\]", child):
            continue  # scalar-agg idiom
        hot += 1
    return hot


def audit_plan(df: DataFrame, query: str | None = None) -> dict:
    plan = executed_plan(df)
    joins = sorted(
        set(
            re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                plan,
            )
        )
    )
    # One scan's list ends on its own line at the "]" before the next
    # metadata key; Spark cuts a list longer than
    # spark.sql.maxMetadataStringLength to "...", with no "]", and the
    # cut stays visible in the result.
    pushed = re.findall(
        r"PushedFilters: \[(.*?)(?:\]|(?<=\.\.\.))(?=, [A-Z]\w*: |$)",
        plan,
        re.M,
    )
    smells = []
    if _global_windows(plan):
        smells.append(SMELL_GLOBAL_WINDOW)
    if "CartesianProduct" in plan:
        smells.append(SMELL_CARTESIAN)
    hot_single = _hot_single_partition_exchanges(plan)
    if hot_single:
        smells.append(SMELL_SINGLE_PARTITION)
    waivers = WAIVED.get(query or "", {})
    waived = {s: waivers[s] for s in smells if s in waivers}
    smells = [s for s in smells if s not in waivers]
    out = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": joins,
        "pushed_filters": [p for p in pushed if p.strip()],
        "codegen_spans": len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "single_partition_exchanges": hot_single,
        "smells": smells,
    }
    if waived:
        out["waived"] = waived
    return out
