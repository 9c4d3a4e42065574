"""Analytics surface: relational queries + training-data operators.

The reference has no relational algebra (SURVEY.md §2.4) — joins,
aggregations, windows, sorts come straight from Spark SQL. This package
holds the engine's query library: the TPC-H-ish relational suite
(``relational``), large-scale dedup (``dedup``), similarity search
(``similarity``), text analysis (``text``) and multimodal plumbing
(``multimodal``).
"""

import contextlib
import math
import threading

from pyspark.sql import Column, DataFrame

from conduit_spark.plans import barrier, barriers_suspended

# Results at or below this materialized size take the single-task
# presentation sort (one narrow job); larger results keep the
# distributed range sort. 32 MB sorts in tens of ms on one core —
# far below the fixed cost of the range sort's sampling job + shuffle
# stage it replaces — while anything corpus-sized at cluster scale
# stays distributed.
SMALL_SORT_BYTES = 32 << 20


def ordered_result(df: DataFrame, *cols: "Column | str") -> DataFrame:
    """Final presentation sort with a materialization barrier.

    A bare ``orderBy`` on an expensive subtree executes it TWICE: the
    range partitioner's sampling job runs the full child once to pick
    split points, then the sort stage runs it again (measured 5.7s →
    3.8s on the SemDeDup pair join at sf0.1). A checkpoint
    pins the subtree's result on first execution so the sort re-reads
    executor-local blocks.

    r15 (VERDICT r14 item 3 — the per-query job floor): the checkpoint
    is now EAGER, and when the materialized result is small (≤
    ``SMALL_SORT_BYTES``, read from the block manager — no extra job)
    the global sort becomes ``coalesce(1).sortWithinPartitions`` — ONE
    narrow task over the checkpoint blocks, no range-sampling job, no
    range exchange. Identical rows in the identical global order (a
    single sorted partition IS a total order; tie order is as
    undefined as the range sort's). Large results keep the
    distributed range sort — the size gate is read per execution, so
    the same code picks the scalable shape at cluster scale. Under a
    plan audit (barriers suspended) the plain ``orderBy`` form is
    built, as before.

    Scale note: the checkpointed relation is the query RESULT (already
    reduced), not the input — output-sized executor memory, freed when
    the DataFrame is GC'd. Use only as the outermost presentation step.
    """
    if barriers_suspended():
        return df.orderBy(*cols)
    try:
        jsc = df.sparkSession.sparkContext._jsc
        before = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
        chk = barrier(df)
        new_ids = {
            int(k) for k in jsc.getPersistentRDDs().keySet().toArray()
        } - before
        size = 0
        for ri in jsc.sc().getRDDStorageInfo():
            if int(ri.id()) in new_ids:
                size += int(ri.memSize()) + int(ri.diskSize())
        if new_ids and size <= SMALL_SORT_BYTES:
            return chk.coalesce(1).sortWithinPartitions(*cols)
        return chk.orderBy(*cols)
    except Exception:  # noqa: BLE001 — introspection must never break a query
        return barrier(df, eager=False).orderBy(*cols)


# Serializes tiny_loop_aqe_off blocks: overlapping ones would restore
# each other's saved session conf out of order and can leave AQE off.
_LOOP_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def tiny_loop_aqe_off(spark, n_rows: "int | None" = None, cap: int = 4_000_000):
    """Context manager: disable AQE around an EAGERLY-executed
    iteration loop whose per-round shuffle state is tiny.

    Every AQE query-stage materialization is a separate Spark job
    (scheduler round + exchange setup), so a K-round driver loop of
    tiny aggregations — farthest-point rounds, Lloyd centroid updates,
    BPE merge argmaxes, label propagation on a reduced graph — pays
    2-3× the job count for nothing: a single-partition or K-row
    exchange leaves AQE no partition-count or skew decision to make
    (guide §1.2; the r14 scaling block showed the sf0.1 suite is
    per-job fixed-overhead bound). Scale-adaptive: when the loop-state
    row count is known, pass it — above ``cap`` AQE stays ON so
    billion-row iteration state keeps skew/coalesce handling. The conf
    is restored on exit, so lazily-executed parts of the query (the
    final assembled plan run by the sink) still execute under AQE.

    r15 addendum: when the loop-state row count IS known, the loop's
    shuffle-partition count is derived from it (ceil(n_rows / 100k),
    clamped to the session setting) — with AQE off there is no
    coalescing, so a K-row rank/vocab exchange otherwise fans out to
    the full static partition count and every round pays
    ``partitions`` task launches to move kilobytes (measured on
    d_pagerank: 64-96 task stages per round on a ~4k-node graph).
    This is the size-derived partitioning AQE would have picked, made
    static for the loop; it scales with the data, not the core count,
    and a corpus-sized loop never reaches here (the ``cap`` gate keeps
    AQE on). Overlapping loops on other threads wait for this one to
    finish (``_LOOP_CONF_LOCK``).
    """
    if n_rows is not None and n_rows > cap:
        yield
        return
    with _LOOP_CONF_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if n_rows is not None:
            target = max(1, min(int(prev_sp), math.ceil(n_rows / 100_000)))
            spark.conf.set("spark.sql.shuffle.partitions", str(target))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def combination_pairs(
    df: DataFrame, arr_col: str = "g", a: str = "a", b: str = "b"
) -> DataFrame:
    """All i<j element pairs of a sorted, cap-bounded array column —
    the pair-generation tail shared by every banded near-dup operator
    (minhash/simhash buckets, sign-LSH bands, image/audio fingerprint
    bands, shingle groups).

    Shape: ``posexplode`` emits each element with its position, then a
    second ``explode`` over ``slice(arr, i+2, ...)`` yields only the
    j>i partners, in whole-stage codegen with no self-join. r14: this
    replaced the ``flatten(transform(sequence, i -> transform(
    sequence, j -> ...)))`` nested-lambda form — Catalyst spent ~1.2s
    PER QUERY BUILD optimizing that expression and its generated code
    ran ~2x slower than the two flat generators (measured at sf0.1:
    plan 1.25s → 0.68s, execute 1.12s → 0.60s, byte-identical rows).
    Upstream hot-bucket caps must bound the array size; the slice
    keeps intermediate rows at C(n,2), never n².
    """
    from pyspark.sql import functions as F

    e = df.select(F.posexplode(arr_col).alias("__i", a), F.col(arr_col))
    return e.select(
        a,
        F.explode(
            F.expr(f"slice({arr_col}, __i + 2, size({arr_col}) - __i - 1)")
        ).alias(b),
    )
