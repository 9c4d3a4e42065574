"""Distinct-count sketches for corpus statistics (beyond the reference).

KMV (k-minimum-values, Bar-Yossef et al. 2002): keep the k smallest
hash values of a set; the k-th smallest ``h_k`` estimates the distinct
count as ``(k-1) * H / h_k`` for hash space ``[0, H)``. Unlike
HyperLogLog the sketch is *deterministic* given the hash function, so
the md5-based hash (``functions/hashing.py``) makes the whole query —
sketch, estimate, and relative error — bit-identical in Spark and
DuckDB.

Why a sketch at all: counting distinct shingles across 100 TB exactly
means shuffling every distinct (key, value) pair. The KMV sketch is
mergeable with O(k) state — at cluster scale each partition keeps its
k smallest values and the merge is a k-way min (a custom Aggregator or
``sortWithinPartitions`` + ``mapPartitions`` head-k). The query below
also computes the exact count so the result self-reports estimation
error; a production run drops the exact branch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from conduit_spark.analytics import ordered_result
from conduit_spark.analytics.dedup import SHINGLE_W, word_grams
from conduit_spark.functions.hashing import md5_int32, sql_md5_int32
from conduit_spark.sources.tables import load_table

KMV_K = 64
HASH_SPACE = float(2**32)  # md5_int32 range
# Salt fan-out for the two-phase k-min. Phase 1 groups the distinct
# hash relation by (source, x % KMV_SALTS) and keeps each group's k
# smallest values, so no task ever sorts more than ~distinct/SALTS
# rows; phase 2 merges the ≤ SALTS k-sized arrays per source (≤
# SALTS·k values — constant) and slices k again. At cluster scale the
# salt count is sized ∝ input partitions (it only has to bound phase-1
# group size; the result is salt-invariant because min-k is).
KMV_SALTS = 64


# The two-phase k-min (formerly the standalone ``_kmv_sketch`` helper)
# now lives inline in both KMV queries, fused with their exact-count
# phases: phase 1 groups by (source, x % KMV_SALTS) so no task ever
# sorts more than ~distinct/SALTS rows (the r7 fix for the one-task
# window rank), and phase 2 merges ≤ SALTS k-sized arrays per source.


def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct word-``SHINGLE_W``-gram count: exact vs the
    KMV-``KMV_K`` estimate, with relative error.

    Plan (r14 session 3, guide §2.4): the corpus-wide ``distinct`` and
    its checkpoint are SUBSUMED into the two-phase k-min itself —
    phase 1 groups the raw hashed-gram stream by ``(source, x % salt)``
    and ``collect_set`` dedupes (map-side partials dedupe per
    partition, exactly what ``.distinct()`` paid a dedicated exchange
    for); each group's sorted set yields its k smallest AND its
    distinct count, so phase 2's tiny per-source merge emits ``h_k``
    and ``n_exact`` from ONE relation — no checkpoint, no count join.
    4 exchanges + checkpoint + join → 2 exchanges. Values are
    identical: the salt groups partition the hash space, so the union
    of per-group distinct sets IS the distinct relation (min-k and
    count are both salt-invariant). With fewer than k distinct values
    the sketch degenerates to the exact count (the k-th element is
    absent → estimate := exact), mirrored in the oracle (whose
    row_number formulation is plan-free and unchanged).
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    raw = docs.filter(n >= SHINGLE_W).select(
        "source",
        # hash + dedupe in-row first (each distinct gram is hashed
        # ONCE, duplicates never leave the row)
        F.explode(
            F.array_distinct(
                F.transform(word_grams(SHINGLE_W), lambda g: md5_int32(g))
            )
        ).alias("x"),
    )
    p1 = (
        raw.groupBy("source", (F.col("x") % F.lit(KMV_SALTS)).alias("salt"))
        .agg(F.collect_set("x").alias("cs"))
        .select(
            "source",
            F.slice(F.array_sort("cs"), 1, KMV_K).alias("mins"),
            F.size("cs").cast("bigint").alias("cnt"),
        )
    )
    sk = p1.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("mins"))), 1, KMV_K
        ).alias("hs"),
        F.sum("cnt").alias("n_exact"),
    )
    kth = sk.select(
        "source",
        "n_exact",
        F.when(F.size("hs") >= KMV_K, F.element_at("hs", KMV_K)).alias(
            "kth_hash"
        ),
    )
    est = F.when(
        F.col("kth_hash").isNull(), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / F.col("kth_hash").cast("double")
    )
    return (
        kth.select(
            "source",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("kth_hash").cast("bigint").alias("kth_hash"),
            F.round(est, 6).alias("est_distinct"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .transform(ordered_result, "source")
    )


# --- HyperLogLog (Flajolet et al. 2007) -------------------------------

HLL_B = 6  # 2^6 = 64 buckets
HLL_M = 1 << HLL_B
# alpha_64 = 0.7213 / (1 + 1.079/64), the standard bias constant
HLL_ALPHA = 0.709366
_REST_BITS = 32 - HLL_B  # md5_int32 is 32-bit


def hll_bucket_cols(df: DataFrame, hash_col: str = "x") -> DataFrame:
    """Add the HLL ``(bucket, rho)`` of a 32-bit hash: bucket = low 6
    bits, rho = 1-based first-set-bit position of the top 26 bits
    (27 when all zero). Shared by the batch and streaming sketches."""
    rest = F.expr(f"{hash_col} div {HLL_M}")
    rho = F.instr(F.lpad(F.bin(rest), _REST_BITS, "0"), "1")
    return df.withColumns(
        {
            "bucket": (F.col(hash_col) % HLL_M).cast("int"),
            "rho": F.when(rho == 0, F.lit(_REST_BITS + 1))
            .otherwise(rho)
            .cast("int"),
        }
    )


# Sub-salt fan-out for the EXACT-count side of sk_hll_distinct (r15):
# bounds each phase-1 collect_set group at ~distinct/(HLL_M·fine).
# Like KMV_SALTS, results are salt-invariant (the (bucket, fsalt)
# classes partition the hash space), so the count is sized ∝ the
# session's parallelism — a scale proxy that grows with the cluster —
# with a measured local floor (8 on local[32]: finer salts only add
# per-group partial-agg overhead at fixture scale; 64 cost +0.26s).
_HLL_FINE_SALTS_MIN = 8


def _hll_fine_salts(spark: SparkSession) -> int:
    return max(
        _HLL_FINE_SALTS_MIN, spark.sparkContext.defaultParallelism // 4
    )


def sk_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-gram count via a 64-bucket HyperLogLog,
    next to the exact count and the relative error (same shape as
    ``sk_kmv_distinct`` — a production run drops the exact branch).

    The md5 hash makes the sketch deterministic, and every float step
    is an exact power of two (``pow(2, -Mj)``) summed in sorted bucket
    order — so even the *estimate* is bit-identical vs DuckDB.

    Scale (r14 session 3, guide §2.4): the bucket id partitions the
    hash space, so ONE ``groupBy(source, bucket)`` carries BOTH
    sketch halves — ``max(rho)`` (duplicate-insensitive, so the old
    corpus-wide ``.distinct()`` exchange was never needed for it) and
    the group's distinct-hash count via ``collect_set`` (map-side
    partials dedupe per partition, which is what the distinct
    exchange did). Per-source totals are a 64-rows-per-source merge:
    ``n_exact = Σ_bucket |set_b|`` is exact because a hash's bucket
    is a function of its value. r15: the exact side groups by an
    additional ``_hll_fine_salts``-way sub-salt first so no single
    group ever holds a corpus-fraction set (ADVICE r14), then merges
    per bucket — identical values, bounded per-task state.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    raw = docs.filter(n >= SHINGLE_W).select(
        "source",
        # hash + dedupe in-row first (each distinct gram is hashed
        # ONCE, duplicates never leave the row)
        F.explode(
            F.array_distinct(
                F.transform(word_grams(SHINGLE_W), lambda g: md5_int32(g))
            )
        ).alias("x"),
    )
    rest = F.expr(f"x div {HLL_M}")  # top 26 bits
    # rho = 1-based position of the first set bit in the 26-bit field,
    # scanning from the high bit; all-zero field → 27. String-domain
    # bit scan (bin/lpad/instr) is defined identically in both engines.
    rho = F.instr(F.lpad(F.bin(rest), _REST_BITS, "0"), "1")
    # r15 (ADVICE r14): the r14 fusion collect_set'ed per (source,
    # bucket) with only HLL_M=64 buckets — each group held
    # ~distinct/64 hashes, a shape that OOMs at the billions-of-
    # distinct scale HLL exists for (the bucket count is sketch
    # geometry, NOT a tunable salt). The exact-count side now salts
    # FINER: phase 1 groups by (source, bucket, fsalt) with
    # ``fsalt = (x div HLL_M) % fine`` (``fine`` ∝ parallelism,
    # floor 8) — (bucket, fsalt)
    # partitions the hash space, so per-group state drops to
    # ~distinct/(HLL_M·fine). The per-bucket merge does NOT
    # get its own exchange (a first cut did, +0.25s warm — the extra
    # stage's fixed cost): the per-source agg collects the ≤
    # HLL_M·fine (bucket, -mj) structs — a bounded-size
    # array — and the bucket-max falls out of the sorted fold (first
    # struct of each bucket run carries the max mj, later ones are
    # skipped). Same 2 exchanges as r14; every float step is still an
    # exact power-of-two sum (order-free in doubles: 64 terms, each
    # 2^-1..2^-27 — all partial sums exact), so the estimate stays
    # bit-identical.
    sub = (
        raw.select(
            "source",
            (F.col("x") % HLL_M).alias("bucket"),
            (rest % F.lit(_hll_fine_salts(spark))).alias("fsalt"),
            F.when(rho == 0, F.lit(_REST_BITS + 1)).otherwise(rho).alias("rho"),
            "x",
        )
        .groupBy("source", "bucket", "fsalt")
        .agg(
            F.max("rho").alias("mjf"),
            F.size(F.collect_set("x")).cast("bigint").alias("nbf"),
        )
        .select(
            "source",
            F.col("bucket").cast("int").alias("bucket"),
            (-F.col("mjf")).cast("int").alias("nmj"),
            "nbf",
        )
    )
    per_src = sub.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("bucket", "nmj"))).alias("bm"),
        F.sum("nbf").cast("bigint").alias("n_exact"),
    )
    # Z = sum 2^-Mj over all 64 buckets (absent buckets contribute
    # 2^0 = 1), folded in sorted bucket order: ascending (bucket, -mj)
    # puts each bucket's MAX mj first in its run; the fold adds 2^-mj
    # on bucket change and carries the bucket id to skip the rest.
    zfold = F.aggregate(
        F.col("bm"),
        F.struct(
            F.lit(0.0).alias("z"), F.lit(-1).cast("int").alias("last")
        ),
        lambda acc, s: F.struct(
            (
                acc["z"]
                + F.when(s["bucket"] == acc["last"], F.lit(0.0)).otherwise(
                    F.pow(F.lit(2.0), s["nmj"].cast("double"))
                )
            ).alias("z"),
            s["bucket"].alias("last"),
        ),
        lambda acc: acc["z"],
    )
    nbh = F.size(
        F.array_distinct(F.transform(F.col("bm"), lambda s: s["bucket"]))
    )
    sk = per_src.select(
        "source",
        (zfold + (F.lit(HLL_M) - nbh).cast("double")).alias("z"),
        nbh.cast("bigint").alias("n_buckets_hit"),
        "n_exact",
    )
    est = F.lit(HLL_ALPHA * HLL_M * HLL_M) / F.col("z")
    return (
        sk.select(
            "source",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_buckets_hit").cast("bigint").alias("n_buckets_hit"),
            F.round(est, 6).alias("est_distinct"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .transform(ordered_result, "source")
    )


# --- histogram quantile sketch ---------------------------------------

HIST_BIN_W = 8.0  # events.value spans 0..~500
HIST_NBINS = 64
_HIST_PS = (0.5, 0.9, 0.99)


def hist_bin_col(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Add ``bin = clamp(floor(value / w), 0, nbins-1)``. Shared by
    the batch and streaming sketches."""
    return df.withColumn(
        "bin",
        F.least(
            F.greatest(
                F.floor(F.col(value_col) / F.lit(HIST_BIN_W)), F.lit(0)
            ),
            F.lit(HIST_NBINS - 1),
        ).cast("int"),
    )


def sk_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate percentiles from a fixed 64-bin
    histogram sketch of ``events.value`` — the mergeable alternative to
    an exact sort when all you need is percentile-grade accuracy
    (error ≤ one bin width). The sketch state is an integer bin-count
    vector: merge = element-wise sum, so partial aggregation reduces
    every partition to ≤ types × 64 rows before the one shuffle.
    ``floor(value / w)`` is the same IEEE operation in both engines,
    so bin counts — and therefore the estimates — are oracle-exact.

    Estimate for percentile p: the upper edge of the first bin whose
    cumulative count reaches ``p × n``.
    """
    ev = load_table(spark, sf_dir, "events")
    binned = hist_bin_col(ev).select("event_type", "bin")
    counts = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "event_type",
        "bin",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    est = [
        (F.min(F.when(F.col("cum").cast("double") >= F.lit(p) * F.col("n").cast("double"), F.col("bin"))) + 1)
        .cast("double")
        .alias(f"p{int(p * 100)}_est")
        for p in _HIST_PS
    ]
    return (
        cum.groupBy("event_type")
        .agg(F.max("n").cast("bigint").alias("n"), *est)
        .select(
            "event_type",
            "n",
            *[
                (F.col(f"p{int(p * 100)}_est") * HIST_BIN_W).alias(
                    f"p{int(p * 100)}_est"
                )
                for p in _HIST_PS
            ],
        )
        .transform(ordered_result, "event_type")
    )



# --- Bloom filter sketch ---------------------------------------------

BLOOM_M = 65536  # bits — sized so typical per-source gram sets don't saturate
BLOOM_K = 4  # hash functions
_BLOOM_WORD_BITS = 32  # 32-bit words in bigint slots: shifts stay positive
BLOOM_WORDS = BLOOM_M // _BLOOM_WORD_BITS


def sk_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bloom filter of the distinct word-grams (m=BLOOM_M
    =65536 bits, k=4 md5-derived hash functions) with the standard fill-ratio
    cardinality estimate ``-(m/k)·ln(1 - X/m)`` next to the exact
    count. ``filter_md5`` fingerprints the bitmap itself so the oracle
    pins the sketch *content*, not just the estimate.

    Mergeability at scale: the state per (source) is BLOOM_WORDS
    integer words and union is bitwise OR — ``bit_or`` partial
    aggregation reduces every partition to ≤ WORDS rows per source
    before the single shuffle (same shape as the HLL max). Words are
    32-bit inside bigint slots so shift/or semantics are identical in
    Spark and DuckDB (no sign-bit divergence at 1<<63).

    r14 session 3 (guide §2.4): the corpus-wide string ``.distinct()``
    exchange is gone — OR is duplicate-insensitive, so the filter
    words come straight from the per-doc deduped gram stream (the only
    exchange is the tiny bit_or partial merge), and the exact distinct
    count re-keys that stream by (source, salt-of-gram) where
    map-side ``collect_set`` partials dedupe per partition — exactly
    what the dedicated distinct exchange did, minus the checkpoint of
    the distinct relation. The checkpoint now holds the per-DOC gram
    arrays so both branches share one corpus scan. Identical bitmap
    (OR idempotent), identical ``n_exact`` (salt groups partition the
    gram space).
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    per_doc = (
        docs.filter(n >= SHINGLE_W)
        .select("source", F.array_distinct(word_grams(SHINGLE_W)).alias("gs"))
        .localCheckpoint()  # one scan feeds the filter AND the exact count
    )
    grams = per_doc.select("source", F.explode("gs").alias("gram"))
    seeds = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    pos = (
        grams.select(
            "source",
            F.explode(
                F.transform(
                    seeds,
                    lambda j: md5_int32(
                        F.concat_ws("#", F.col("gram"), j.cast("string"))
                    )
                    % BLOOM_M,
                )
            ).alias("pos"),
        )
    )
    words = (
        pos.select(
            "source",
            (F.col("pos") / _BLOOM_WORD_BITS).cast("bigint").alias("word"),
            # F.shiftleft needs a literal bit count; the SQL form takes
            # a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("source", "word")
        .agg(F.bit_or("mask").alias("w"))
    )
    fingerprint = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", "w"))),
                lambda s: F.concat_ws(":", s["word"].cast("string"), s["w"].cast("string")),
            ),
        )
    )
    sk = words.groupBy("source").agg(
        F.sum(F.bit_count("w")).alias("bits_set"),
        fingerprint.alias("filter_md5"),
    )
    # exact distinct grams per source: salt-partitioned collect_set
    # (the salt hash is internal grouping only — any deterministic
    # function works and never reaches the oracle-visible values)
    exact = (
        grams.groupBy(
            "source", F.pmod(F.crc32("gram"), F.lit(KMV_SALTS)).alias("salt")
        )
        .agg(F.size(F.collect_set("gram")).cast("bigint").alias("cnt"))
        .groupBy("source")
        .agg(F.sum("cnt").alias("n_exact"))
    )
    fill = F.col("bits_set").cast("double") / F.lit(float(BLOOM_M))
    # a saturated filter (all bits set) has no estimate: ln(0) diverges
    # and differs across engines (null vs -inf) — report NULL, the
    # caller's signal to resize m
    est = F.when(
        F.col("bits_set") < BLOOM_M,
        F.lit(-BLOOM_M / BLOOM_K) * F.log(F.lit(1.0) - fill),
    )
    return (
        exact.join(sk, "source")
        .select(
            "source",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("bits_set").cast("bigint").alias("bits_set"),
            F.round(est, 6).alias("est_distinct"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_error"),
            "filter_md5",
        )
        .transform(ordered_result, "source")
    )

_REL_SQL = f"""
    SELECT DISTINCT source, {sql_md5_int32("g")} AS x
    FROM (
        SELECT source,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text,' ')) - {SHINGLE_W - 1}),
                   i -> array_to_string(string_split(text,' ')[i:i+{SHINGLE_W - 1}], ' ')
               ))) AS g
        FROM documents
        WHERE len(string_split(text,' ')) >= {SHINGLE_W})
"""

# --- CountMin sketch + heavy hitters (Cormode & Muthukrishnan 2005) --

CMS_D = 4  # hash rows
CMS_W = 512  # columns per row
CMS_TOPK = 20


def sk_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token heavy hitters via a CountMin sketch: a ``CMS_D × CMS_W``
    counter table where cell ``(r, c)`` sums the counts of every token
    with ``h_r(token) = c``; a token's estimate is the **min** across
    its ``CMS_D`` cells, which can only over-count (collisions add,
    never subtract). Returns the top-``CMS_TOPK`` tokens by estimate
    with the exact count alongside, so every row self-certifies the
    CMS guarantee ``overcount >= 0``.

    Plan shape: one keyed token count (map-side partials), then the
    sketch is built FROM that counts relation — cell(r,c) =
    Σ n_exact over colliding tokens is identical to counting raw
    occurrences but exchanges ≤ distinct-tokens × D rows instead of
    corpus-tokens × D. The sketch itself is ≤ D·W = 2048 cells —
    broadcast back to the candidate relation for the min, so the only
    real shuffle is the token count. At 100 TB the sketch merges by
    cell-wise sum (one O(D·W) state per partition) and the candidate
    set comes from per-partition Misra-Gries top-k instead of the full
    distinct relation; the md5 row hashes keep the estimate
    bit-identical to the SQL oracle here.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .localCheckpoint()  # feeds both the sketch build and the probe
    )
    rows = F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r")
    keyed = counts.select(
        "token",
        "n_exact",
        rows,
    ).select(
        "token",
        "n_exact",
        "r",
        (
            md5_int32(F.concat_ws("|", F.col("r"), F.col("token"))) % CMS_W
        ).alias("c"),
    )
    cells = keyed.groupBy("r", "c").agg(F.sum("n_exact").alias("cell"))
    return (
        keyed.join(F.broadcast(cells), ["r", "c"])
        .groupBy("token", "n_exact")
        .agg(F.min("cell").alias("est"))
        .select(
            "token",
            F.col("est").cast("bigint").alias("est_count"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (F.col("est") - F.col("n_exact")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(CMS_TOPK)
    )




def sk_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap via KMV SET ALGEBRA (Beyer et al., SIGMOD
    2007): each source keeps only its ``KMV_K`` smallest shingle
    hashes; for a source pair, the k smallest of the sketch UNION give
    theta (union-size estimator) and the fraction of those union
    samples present in BOTH sketches estimates Jaccard — so
    intersection size = jaccard x union, all from O(k) state per
    source. This is the sketch-merge workflow for corpus-overlap
    triage at 100 TB: sketches are tiny mergeable relations; the exact
    columns (computed here for the error report) are the expensive
    full-shuffle path the sketches let you SKIP.

    Degenerate case mirrored exactly in the oracle: when the combined
    sketch union holds fewer than k hashes, both sketches are
    exhaustive and the sketch estimates ARE exact.

    r14 session 3 (guide §2.4): the corpus-wide ``.distinct()`` and
    the separate ``groupBy(x)`` for the exact side merged into ONE
    hash-keyed aggregation — ``collect_set(source)`` per hash both
    dedupes (subsuming the distinct exchange) and IS the inverted
    source-set relation the exact intersections need. The per-source
    sketches re-derive (source, x) by exploding that checkpointed
    relation, and the per-source distinct counts ride the two k-min
    phases (each phase-1 group's size sums to the source's distinct
    count), so the old ``counts`` aggregation and both count joins
    disappear. 5 exchanges + a (source,x)-wide checkpoint → 3
    exchanges + a per-hash checkpoint; identical values.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    raw = docs.filter(n >= SHINGLE_W).select(
        "source",
        # hash + dedupe in-row first (each distinct gram is hashed
        # ONCE, duplicates never leave the row)
        F.explode(
            F.array_distinct(
                F.transform(word_grams(SHINGLE_W), lambda g: md5_int32(g))
            )
        ).alias("x"),
    )
    byhash = (
        raw.groupBy("x")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .localCheckpoint()
    )
    # two-phase k-min (the _kmv_sketch shape) over the re-exploded
    # (source, x) orientation — already distinct by construction; the
    # per-salt group sizes sum to each source's exact distinct count
    ex = byhash.select(F.explode("ss").alias("source"), "x")
    p1 = ex.groupBy(
        "source", (F.col("x") % F.lit(KMV_SALTS)).alias("salt")
    ).agg(
        F.slice(F.array_sort(F.collect_list("x")), 1, KMV_K).alias("mins"),
        F.count(F.lit(1)).alias("cnt"),
    )
    sk = p1.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("mins"))), 1, KMV_K
        ).alias("hs"),
        F.sum("cnt").alias("n"),
    ).localCheckpoint(eager=False)  # tiny; read by both pair legs
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.slice(
            F.array_sort(F.array_union(F.col("a.hs"), F.col("b.hs"))),
            1,
            KMV_K,
        ).alias("uk"),
        F.array_intersect(F.col("a.hs"), F.col("b.hs")).alias("both"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    exhaustive = F.size("uk") < KMV_K
    theta = F.element_at("uk", KMV_K).cast("double")
    n_inter_k = F.size(F.array_intersect("uk", "both")).cast("double")
    jacc_est = F.when(
        exhaustive,
        F.size("both").cast("double") / F.size("uk").cast("double"),
    ).otherwise(n_inter_k / F.lit(float(KMV_K)))
    union_est = F.when(
        exhaustive, F.size("uk").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / theta)
    est = pairs.select(
        "source_a",
        "source_b",
        F.round(jacc_est, 6).alias("jaccard_est"),
        F.round(union_est, 2).alias("union_est"),
        F.round(jacc_est * union_est, 2).alias("inter_est"),
        "n_a",
        "n_b",
    )
    # exact side (the full-shuffle path the sketches avoid): an in-row
    # pair expansion of each hash's source set (≤ n_sources² pairs per
    # row) over the SAME checkpointed per-hash relation — no self-join
    # of the big relation against itself, and the per-source sizes
    # already ride the sketch relation.
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda sa, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda sb: F.struct(sa.alias("source_a"), sb.alias("source_b")),
            ),
        )
    )
    inter = (
        byhash.filter(F.size("ss") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jaccard_exact = F.round(
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        6,
    )
    return (
        est.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "jaccard_est",
            "union_est",
            "inter_est",
            F.coalesce(jaccard_exact, F.lit(0.0)).alias("jaccard_exact"),
        )
        .transform(ordered_result, "source_a", "source_b")
    )


def sk_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE algebra that makes sketches work at 100 TB, shown
    end-to-end: per-source HLL register vectors are combined by
    element-wise ``max`` into a global sketch, and the merged estimate
    is emitted NEXT TO the direct global sketch (built from the
    globally-distinct gram relation in one pass) plus the exact count
    — with a ``merge_matches`` invariant column proving
    merge(per-source sketches) == sketch(union), the lossless-rollup
    property that lets a trillion-row fleet keep per-partition
    register state and never re-scan on aggregation windows.

    Exactness: registers are integers (max over first-set-bit
    positions of the shared md5 hash), both Z folds run over
    bucket-sorted exact powers of two, and the two estimates come from
    IDENTICAL register vectors by construction (a gram present in many
    sources lands in the same bucket with the same rho), so
    ``merge_matches`` is provably true and the oracle reproduces every
    float bit-for-bit.

    Scale shape: one gram scan feeds both paths; per-source and
    merged registers are keyed aggs with map-side partials (≤ 64 rows
    per source / globally); the exact branch is the audit-only leg a
    production run drops."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    n = F.size(F.split(F.col("text"), " "))
    rel = (
        docs.filter(n >= SHINGLE_W)
        .select(
            "source",
            # r14: hash + dedupe in-row first (each distinct gram is
            # hashed ONCE, duplicates never leave the row — the
            # dedup._doc_grams_df shape), so the cross-document
            # distinct exchange sees fewer rows and no gram strings
            F.explode(
                F.array_distinct(
                    F.transform(
                        word_grams(SHINGLE_W), lambda g: md5_int32(g)
                    )
                )
            ).alias("x"),
        )
        .distinct()
    ).localCheckpoint()  # feeds both sketch paths AND the exact count
    coords = hll_bucket_cols(rel)
    per_source = (
        coords.select("source", "bucket", "rho")
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    # merge = element-wise max across the per-source register vectors
    merged = per_source.groupBy("bucket").agg(F.max("mj").alias("mj"))
    # direct = one global sketch over the globally-distinct grams
    direct = (
        coords.select("bucket", "rho")
        .distinct()
        .groupBy("bucket")
        .agg(F.max("rho").alias("mj"))
    )

    def z_of(regs: DataFrame) -> DataFrame:
        z = F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "mj"))),
            F.lit(0.0),
            lambda acc, s: acc + F.pow(F.lit(2.0), -s["mj"].cast("double")),
        ) + (F.lit(HLL_M) - F.count(F.lit(1))).cast("double")
        return regs.agg(z.alias("z"))

    est = F.lit(HLL_ALPHA * HLL_M * HLL_M)
    zm = z_of(merged).select(F.col("z").alias("zm"))
    zd = z_of(direct).select(F.col("z").alias("zd"))
    exact = rel.select("x").distinct().agg(
        F.count(F.lit(1)).alias("n_exact_global")
    )
    n_src = rel.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    return (
        n_src.crossJoin(exact)
        .crossJoin(zm)
        .crossJoin(zd)
        .select(
            F.col("n_sources").cast("bigint").alias("n_sources"),
            F.col("n_exact_global").cast("bigint").alias("n_exact_global"),
            F.round(est / F.col("zm"), 6).alias("est_merged"),
            F.round(est / F.col("zd"), 6).alias("est_direct"),
            (
                F.round(est / F.col("zm"), 6)
                == F.round(est / F.col("zd"), 6)
            ).alias("merge_matches"),
            F.round(
                F.abs(est / F.col("zm") - F.col("n_exact_global").cast("double"))
                / F.col("n_exact_global").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


QUERIES = {
    "sk_kmv_distinct": sk_kmv_distinct,
    "sk_kmv_overlap": sk_kmv_overlap,
    "sk_bloom_filter": sk_bloom_filter,
    "sk_cms_topk": sk_cms_topk,
    "sk_hll_distinct": sk_hll_distinct,
    "sk_hll_merge": sk_hll_merge,
    "sk_hist_quantiles": sk_hist_quantiles,
}

_HIST_EST_SQL = ",\n               ".join(
    # CAST the bin-width literal: DuckDB parses `8.0` as DECIMAL and
    # would return Decimal values where Spark returns DOUBLE
    f"CAST((min(CASE WHEN CAST(cum AS DOUBLE) >= {p} * CAST(n AS DOUBLE)"
    f" THEN bin END) + 1) * {HIST_BIN_W} AS DOUBLE) AS p{int(p * 100)}_est"
    for p in _HIST_PS
)

ORACLES = {
    "sk_cms_topk": f"""
        WITH counts AS (
            SELECT token, COUNT(*) AS n_exact
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            WHERE token <> ''
            GROUP BY token),
        keyed AS (
            SELECT token, n_exact, r,
                   ({sql_md5_int32("CAST(r AS VARCHAR) || '|' || token")}) % {CMS_W} AS c
            FROM counts, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS r)),
        cells AS (
            SELECT r, c, SUM(n_exact) AS cell FROM keyed GROUP BY r, c),
        est AS (
            SELECT keyed.token, keyed.n_exact, MIN(cells.cell) AS est
            FROM keyed JOIN cells USING (r, c)
            GROUP BY keyed.token, keyed.n_exact)
        SELECT token,
               CAST(est AS BIGINT) AS est_count,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(est - n_exact AS BIGINT) AS overcount
        FROM est
        ORDER BY est_count DESC, token
        LIMIT {CMS_TOPK}
    """,
    "sk_bloom_filter": f"""
        WITH relg AS (
            SELECT DISTINCT source, g
            FROM (
                SELECT source,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(string_split(text,' ')) - {SHINGLE_W - 1}),
                           i -> array_to_string(string_split(text,' ')[i:i+{SHINGLE_W - 1}], ' ')
                       ))) AS g
                FROM documents
                WHERE len(string_split(text,' ')) >= {SHINGLE_W})),
        pos AS (
            SELECT source,
                   ({sql_md5_int32("g || '#' || CAST(s AS VARCHAR)")}) % {BLOOM_M} AS pos
            FROM relg, (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS s)),
        words AS (
            SELECT source, pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS w
            FROM pos GROUP BY 1, 2),
        sk AS (
            SELECT source,
                   sum(bit_count(w)) AS bits_set,
                   md5(string_agg(CAST(word AS VARCHAR) || ':' || CAST(w AS VARCHAR),
                                  ',' ORDER BY word)) AS filter_md5
            FROM words GROUP BY source),
        exact AS (SELECT source, count(*) AS n_exact FROM relg GROUP BY source),
        j AS (
            SELECT source, n_exact, bits_set, filter_md5,
                   CASE WHEN bits_set < {BLOOM_M}
                        THEN {-BLOOM_M / BLOOM_K} * ln(1.0 - CAST(bits_set AS DOUBLE) / {float(BLOOM_M)})
                   END AS est
            FROM exact JOIN sk USING (source))
        SELECT source,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(bits_set AS BIGINT) AS bits_set,
               round(est, 6) AS est_distinct,
               round(abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error,
               filter_md5
        FROM j ORDER BY source
    """,
    "sk_hist_quantiles": f"""
        WITH b AS (
            SELECT event_type,
                   CAST(least(greatest(floor(value / {HIST_BIN_W}), 0),
                              {HIST_NBINS - 1}) AS BIGINT) AS bin
            FROM events),
        c AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
        cum AS (
            SELECT event_type, bin,
                   sum(c) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM c)
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               {_HIST_EST_SQL}
        FROM cum
        GROUP BY event_type
        ORDER BY event_type
    """,
    "sk_hll_distinct": f"""
        WITH rel AS ({_REL_SQL}),
        b AS (
            SELECT source, x % {HLL_M} AS bucket,
                   CASE WHEN instr(lpad(bin(x // {HLL_M}), {_REST_BITS}, '0'), '1') = 0
                        THEN {_REST_BITS + 1}
                        ELSE instr(lpad(bin(x // {HLL_M}), {_REST_BITS}, '0'), '1')
                   END AS rho
            FROM rel),
        bk AS (SELECT source, bucket, max(rho) AS mj FROM b GROUP BY 1, 2),
        sk AS (
            SELECT source,
                   list_reduce(
                       list_prepend(0.0, list_transform(
                           list_sort(list({{'bucket': bucket, 'mj': mj}})),
                           s -> pow(2.0, -CAST(s.mj AS DOUBLE)))),
                       (acc, x) -> acc + x)
                   + CAST({HLL_M} - count(*) AS DOUBLE) AS z,
                   count(*) AS n_buckets_hit
            FROM bk GROUP BY source),
        exact AS (SELECT source, count(*) AS n_exact FROM rel GROUP BY 1)
        SELECT e.source,
               CAST(e.n_exact AS BIGINT) AS n_exact,
               CAST(sk.n_buckets_hit AS BIGINT) AS n_buckets_hit,
               round({HLL_ALPHA} * {HLL_M} * {HLL_M} / sk.z, 6) AS est_distinct,
               round(abs({HLL_ALPHA} * {HLL_M} * {HLL_M} / sk.z
                         - CAST(e.n_exact AS DOUBLE))
                     / CAST(e.n_exact AS DOUBLE), 6) AS rel_error
        FROM exact e JOIN sk USING (source)
        ORDER BY e.source
    """,
    "sk_hll_merge": f"""
        WITH rel AS ({_REL_SQL}),
        b AS (
            SELECT source, x % {HLL_M} AS bucket,
                   CASE WHEN instr(lpad(bin(x // {HLL_M}), {_REST_BITS}, '0'), '1') = 0
                        THEN {_REST_BITS + 1}
                        ELSE instr(lpad(bin(x // {HLL_M}), {_REST_BITS}, '0'), '1')
                   END AS rho
            FROM rel),
        per_source AS (SELECT source, bucket, max(rho) AS mj
                       FROM b GROUP BY 1, 2),
        merged AS (SELECT bucket, max(mj) AS mj FROM per_source GROUP BY 1),
        direct AS (SELECT bucket, max(rho) AS mj
                   FROM (SELECT DISTINCT bucket, rho FROM b) GROUP BY 1),
        zm AS (
            SELECT list_reduce(
                       list_prepend(0.0, list_transform(
                           list_sort(list({{'bucket': bucket, 'mj': mj}})),
                           s -> pow(2.0, -CAST(s.mj AS DOUBLE)))),
                       (acc, x) -> acc + x)
                   + CAST({HLL_M} - count(*) AS DOUBLE) AS z
            FROM merged),
        zd AS (
            SELECT list_reduce(
                       list_prepend(0.0, list_transform(
                           list_sort(list({{'bucket': bucket, 'mj': mj}})),
                           s -> pow(2.0, -CAST(s.mj AS DOUBLE)))),
                       (acc, x) -> acc + x)
                   + CAST({HLL_M} - count(*) AS DOUBLE) AS z
            FROM direct),
        exact AS (SELECT count(DISTINCT x) AS n_exact_global FROM rel),
        nsrc AS (SELECT count(DISTINCT source) AS n_sources FROM rel)
        SELECT CAST(nsrc.n_sources AS BIGINT) AS n_sources,
               CAST(exact.n_exact_global AS BIGINT) AS n_exact_global,
               round({HLL_ALPHA} * {HLL_M} * {HLL_M} / zm.z, 6) AS est_merged,
               round({HLL_ALPHA} * {HLL_M} * {HLL_M} / zd.z, 6) AS est_direct,
               round({HLL_ALPHA} * {HLL_M} * {HLL_M} / zm.z, 6)
                   = round({HLL_ALPHA} * {HLL_M} * {HLL_M} / zd.z, 6)
                   AS merge_matches,
               round(abs({HLL_ALPHA} * {HLL_M} * {HLL_M} / zm.z
                         - CAST(exact.n_exact_global AS DOUBLE))
                     / CAST(exact.n_exact_global AS DOUBLE), 6) AS rel_error
        FROM nsrc, exact, zm, zd
    """,
    "sk_kmv_overlap": f"""
        WITH rel AS ({_REL_SQL}),
        sk AS (
            SELECT source, list_sort(list(x)) AS hs
            FROM (
                SELECT source, x,
                       row_number() OVER (PARTITION BY source ORDER BY x) AS rn
                FROM rel)
            WHERE rn <= {KMV_K}
            GROUP BY source),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   (list_sort(list_distinct(list_concat(a.hs, b.hs))))[1:{KMV_K}] AS uk,
                   list_intersect(a.hs, b.hs) AS both_hs
            FROM sk a, sk b
            WHERE a.source < b.source),
        calc AS (
            SELECT source_a, source_b,
                   CASE WHEN len(uk) < {KMV_K}
                        THEN CAST(len(both_hs) AS DOUBLE)
                             / CAST(len(uk) AS DOUBLE)
                        ELSE CAST(len(list_intersect(uk, both_hs)) AS DOUBLE)
                             / {float(KMV_K)}
                   END AS jacc,
                   CASE WHEN len(uk) < {KMV_K}
                        THEN CAST(len(uk) AS DOUBLE)
                        ELSE {float(KMV_K - 1)} * {HASH_SPACE}
                             / CAST(uk[{KMV_K}] AS DOUBLE)
                   END AS uni
            FROM pairs),
        inter AS (
            SELECT ra.source AS source_a, rb.source AS source_b,
                   count(*) AS n_inter
            FROM rel ra JOIN rel rb
              ON ra.x = rb.x AND ra.source < rb.source
            GROUP BY 1, 2),
        counts AS (SELECT source, count(*) AS n FROM rel GROUP BY 1),
        exact AS (
            SELECT i.source_a, i.source_b,
                   round(CAST(i.n_inter AS DOUBLE)
                         / CAST(ca.n + cb.n - i.n_inter AS DOUBLE), 6)
                       AS jaccard_exact
            FROM inter i
            JOIN counts ca ON ca.source = i.source_a
            JOIN counts cb ON cb.source = i.source_b)
        SELECT c.source_a, c.source_b,
               round(c.jacc, 6) AS jaccard_est,
               round(c.uni, 2) AS union_est,
               round(c.jacc * c.uni, 2) AS inter_est,
               coalesce(e.jaccard_exact, 0.0) AS jaccard_exact
        FROM calc c
        LEFT JOIN exact e USING (source_a, source_b)
        ORDER BY source_a, source_b
    """,
    "sk_kmv_distinct": f"""
        WITH rel AS ({_REL_SQL}),
        kth AS (
            SELECT source, x AS kth_hash
            FROM (
                SELECT source, x,
                       row_number() OVER (PARTITION BY source ORDER BY x) AS rn
                FROM rel)
            WHERE rn = {KMV_K}),
        exact AS (SELECT source, count(*) AS n_exact FROM rel GROUP BY 1),
        j AS (
            SELECT e.source, e.n_exact, kth.kth_hash,
                   CASE WHEN kth.kth_hash IS NULL
                        THEN CAST(e.n_exact AS DOUBLE)
                        ELSE {float(KMV_K - 1)} * {HASH_SPACE}
                             / CAST(kth.kth_hash AS DOUBLE)
                   END AS est
            FROM exact e LEFT JOIN kth USING (source))
        SELECT source,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(kth_hash AS BIGINT) AS kth_hash,
               round(est, 6) AS est_distinct,
               round(abs(est - CAST(n_exact AS DOUBLE))
                     / CAST(n_exact AS DOUBLE), 6) AS rel_error
        FROM j
        ORDER BY source
    """,
}
