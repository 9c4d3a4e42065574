"""Continuous sketch estimates as native streaming aggregations.

The streaming leg of the sketch-merge algebra ``analytics.sketches``
proves in batch: HLL registers merge by element-wise max, histogram
bins by element-wise sum, so each sketch is one ``groupBy(key).agg``
of 64 aggregates held in Spark's JVM state store, and the estimate is
a projection over them. No Python worker runs.

Run with ``outputMode("update")``: a micro-batch emits one row per key
it touched, with the estimate over everything that key ever ingested.
Both merges are lossless, so across checkpoint restarts the last row
of a key equals the batch sketch over its whole input, bit for bit.
Inputs carry the coordinates from the batch sketches' own expressions
(``hll_bucket_cols``, ``hist_bin_col``). State is 64 numbers per key,
never evicted: bound a churning keyspace upstream.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from conduit_spark.analytics.sketches import (
    _HIST_PS,
    HIST_BIN_W,
    HIST_NBINS,
    HLL_ALPHA,
    HLL_M,
)

HLL_OUT_SCHEMA = "source STRING, n_buckets_hit BIGINT, est_distinct DOUBLE"

HIST_OUT_SCHEMA = (
    "event_type STRING, n BIGINT, p50_est DOUBLE, p90_est DOUBLE, "
    "p99_est DOUBLE"
)


def running_hll_distinct(
    stream: DataFrame, key_col: str = "source"
) -> DataFrame:
    """Per-key HLL distinct count over ``(bucket, rho)`` rows, in
    ``HLL_OUT_SCHEMA``. Register i is ``max(rho)`` in bucket i, null
    while empty; Z sums ``2^-m`` over the registers in bucket order,
    an empty one adding 2^0. Every term is a power of two between
    2^-27 and 1, so the sum is exact and ``est_distinct`` is
    ``sk_hll_distinct``'s unrounded estimate."""
    regs = F.array(
        *[F.max(F.when(F.col("bucket") == i, F.col("rho"))) for i in range(HLL_M)]
    )
    z = F.aggregate(
        "regs",
        F.lit(0.0),
        lambda acc, m: acc + F.coalesce(F.pow(F.lit(2.0), -m.cast("double")), F.lit(1.0)),
    )
    return (
        stream.groupBy(key_col)
        .agg(regs.alias("regs"))
        .select(
            F.col(key_col).alias("source"),
            F.size(F.filter("regs", lambda m: m.isNotNull())).cast("bigint").alias("n_buckets_hit"),
            (F.lit(HLL_ALPHA * HLL_M * HLL_M) / z).alias("est_distinct"),
        )
    )


def running_hist_quantiles(
    stream: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Per-key p50/p90/p99 over ``bin`` rows (bins in [0, 64)), in
    ``HIST_OUT_SCHEMA``. Bin i counts ``bin == i``; the p-estimate is
    the 1-based position of the first cumulative count ≥ p·n, times
    ``HIST_BIN_W`` — the integer rule of ``sk_hist_quantiles``."""

    def p_est(p: float):
        # cumulative counts are monotone, so the first one ≥ p·n sits
        # at 1 + (how many fall below p·n): one fold over the bins
        t = F.lit(p) * F.col("n").cast("double")
        below = F.aggregate(
            "counts",
            F.struct(F.lit(0).cast("bigint").alias("cum"), F.lit(0).alias("below")),
            lambda acc, c: F.struct(
                (acc["cum"] + c).alias("cum"),
                (acc["below"] + ((acc["cum"] + c).cast("double") < t).cast("int")).alias("below"),
            ),
            lambda acc: acc["below"],
        )
        return ((below + 1).cast("double") * HIST_BIN_W).alias(f"p{int(p * 100)}_est")

    counts = F.array(*[F.count_if(F.col("bin") == i) for i in range(HIST_NBINS)])
    return (
        stream.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"), counts.alias("counts"))
        .select(F.col(key_col).alias("event_type"), "n", *[p_est(p) for p in _HIST_PS])
    )
