"""End-to-end corpus curation funnel (beyond the reference).

The composition every LLM training-data pipeline runs before a
training job (RefinedWeb/FineWeb/Dolma shape): quality filter →
exact dedup → benchmark holdout + decontamination → stratified
sampling, reported as a per-stage attrition funnel. Each stage reuses
the production operator (text quality score, md5 exact-dedup keeper,
``dedup.contamination_scores``, ``sampling.stratified_sample``), so
the funnel is an integration proof, not a re-implementation.

Plan shape: the quality-surviving (doc_id, lang, text-hash) relation
is materialized ONCE (narrow scan + per-row expressions), after which
every stage is a keyed agg or an equi-join on it; the contamination
branch is the operator's own bounded pipeline. Five scalar counts —
no driver-side loops, no cross products, SF-linear end to end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from conduit_spark.analytics.dedup import (
    CONTAM_MOD,
    _contamination_from_grams,
    contam_grams_cached,
)
from conduit_spark.analytics.sampling import DEFAULT_RATE, RATES, _SCALE
from conduit_spark.analytics.text import STOPWORDS
from conduit_spark.functions.hashing import md5_int32, sql_md5_int32
from conduit_spark.analytics import ordered_result
from conduit_spark.plans import barrier
from conduit_spark.sources.tables import load_table

QUALITY_MIN = 0.35  # min composite quality score (see text.t_quality)
CONTAM_MAX = 0.2  # max tolerated benchmark n-gram overlap fraction


def _quality_score():
    """The t_quality composite score as one expression over ``text``."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    mean_len = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / n_tok
    return (
        F.lit(0.3) * (n_stop / n_tok)
        + F.lit(0.4) * (n_uniq / n_tok)
        + F.lit(0.3) * F.least(mean_len / F.lit(8.0), F.lit(1.0))
    )


def cur_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage document counts of the curation pipeline.

    r15 shape (guide §2.4 — one pass instead of five counted
    subtrees): every stage membership is a per-row FLAG over one
    checkpointed base relation, and all five counts come from ONE
    aggregation — sum(flag_i) over the corpus — instead of five
    separate scalar-agg subtrees each re-reading the survivor
    checkpoints through its own exchange. Stage semantics are
    unchanged and oracle-checked: quality gate, keeper = min doc_id
    per md5(text) among survivors, benchmark-holdout mod + contaminated
    anti-flag, stratified hash gate (the same predicate
    ``sampling.stratified_sample`` applies)."""
    docs = load_table(spark, sf_dir, "documents")

    # one corpus pass: id, lang, text hash, quality flag
    base = barrier(docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("h"),
        (F.round(_quality_score(), 9) >= QUALITY_MIN).alias("q_ok"),
    ))

    # exact-dedup keepers among quality survivors (min doc_id per hash)
    keepers = (
        base.filter(F.col("q_ok"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
    )

    # contaminated ids: tiny flagged relation (broadcast by the planner)
    contaminated = (
        _contamination_from_grams(contam_grams_cached(spark, sf_dir))
        .filter(F.col("contamination_frac") >= CONTAM_MAX)
        .select("doc_id", F.lit(True).alias("is_contam"))
    )

    # the stratified_sample hash gate as a predicate (same expression)
    rate = None
    for s_, r_ in sorted(RATES.items()):
        b = F.when(F.col("lang") == s_, F.lit(r_))
        rate = b if rate is None else rate.when(F.col("lang") == s_, F.lit(r_))
    rate = rate.otherwise(F.lit(DEFAULT_RATE))
    gate = md5_int32(F.col("doc_id")).cast("double") / F.lit(float(_SCALE))

    is_s2 = F.col("q_ok") & (F.col("doc_id") == F.col("keep_id"))
    is_s3 = (
        is_s2
        & (F.col("doc_id") % CONTAM_MOD != 0)
        & F.col("is_contam").isNull()
    )
    is_s4 = is_s3 & (gate < rate)
    flags = (
        base.join(keepers, "h", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            F.col("q_ok").cast("int").alias("f1"),
            is_s2.cast("int").alias("f2"),
            is_s3.cast("int").alias("f3"),
            is_s4.cast("int").alias("f4"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum("f2").alias("n2"),
        F.sum("f3").alias("n3"),
        F.sum("f4").alias("n4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("bigint").alias("stage_idx"),
                F.lit(nm).alias("stage"),
                F.col(f"n{i}").cast("bigint").alias("n_docs"),
            )
            for i, nm in enumerate(
                ["input", "quality", "dedup", "decontaminate", "sample"]
            )
        ]
    )
    return (
        agg.select(F.explode(stages).alias("e"))
        .select("e.stage_idx", "e.stage", "e.n_docs")
        .transform(ordered_result, "stage_idx")
    )


N_SHARDS = 16  # config-sized here; thousands at 100 TB
MIX_BUDGET_FRAC = 0.3  # sample 30% of total tokens, equal share/source


def shard_of(key, n_shards: int = N_SHARDS):
    """Deterministic shard id in [0, n_shards) — md5-derived so any
    engine (and the SQL oracle) reproduces the assignment."""
    return (md5_int32(key) % F.lit(n_shards)).cast("bigint")


def cur_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard audit: docs/tokens/id-range per deterministic
    shard. The balance this reports is what you check before a 100 TB
    write — shard skew here is write skew there. One narrow scan +
    one keyed agg; SF-linear."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            shard_of(F.col("doc_id")).alias("shard_id"),
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
            "doc_id",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .transform(ordered_result, "shard_id")
    )


SPLIT_TRAIN_PCT = 90  # deterministic hash-mod split: 90/5/5
SPLIT_VAL_PCT = 95


def split_of(key) -> Column:
    """Deterministic train/val/test assignment by md5-hash-mod —
    stable across reruns and cluster layouts, like :func:`shard_of`."""
    b = md5_int32(key) % F.lit(100)
    return (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def cur_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: near-duplicate pairs that CROSS the
    train/val/test boundary. Splitting by document hash is necessary
    but not sufficient — a near-dup of a training doc landing in test
    inflates eval (the Lee et al. 2022 deduplication finding), so the
    release gate counts cross-split near-dup pairs per split pair;
    same-split pairs are reported too (they're the dedup backlog, not
    leakage). Composes the banded-LSH pair relation with a broadcast
    split assignment — one keyed agg on top, SF-linear.
    """
    from conduit_spark.analytics.dedup import lsh_pairs_cached

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_of(F.col("doc_id")).alias("split")
    )
    pairs = lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    j = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
    )
    return (
        j.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .transform(ordered_result, "split_a", "split_b")
    )


def cur_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global pseudorandom shuffle — the step every
    training-data writer runs between curation and sharding (a model
    must not see the corpus in crawl order).

    Rank = md5(doc_id): reproducible across engines and runs, no RNG
    state. Scale shape: the global ORDER BY compiles to Spark's
    range-partitioned sort (sampled bounds, fully parallel — never a
    single-task window), and each doc's position WITHIN its output
    shard comes from a window PARTITIONED by shard_id, so the widest
    window state is one shard's docs. At 100 TB with thousands of
    shards this is exactly the write plan: sort by hash, write
    per-shard position-ordered files.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        shard_of(F.col("doc_id")).alias("shard_id"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
        "doc_id",
    )
    w = Window.partitionBy("shard_id").orderBy("shuffle_key")
    return (
        d.withColumn("pos_in_shard", F.row_number().over(w).cast("bigint"))
        .transform(ordered_result, "shard_id", "pos_in_shard")
    )


def cur_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing weights (Dolma/Pile-style): given a token budget
    of ``MIX_BUDGET_FRAC`` × corpus and an equal target share per
    source, the per-source keep rate = min(1, target/available) and
    the tokens that rate would sample. Per-source agg + one scalar
    total broadcast back — no shuffle beyond the 20-group agg."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    target = (
        F.lit(MIX_BUDGET_FRAC)
        * F.col("total_tokens").cast("double")
        / F.col("n_sources").cast("double")
    )
    rate = F.round(
        F.least(F.lit(1.0), target / F.col("n_tokens").cast("double")), 9
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rate.alias("rate"),
            F.round(rate * F.col("n_tokens").cast("double"), 6).alias(
                "exp_tokens"
            ),
        )
        .transform(ordered_result, "source")
    )


# CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): score
# every document with a per-language LM, split each language into
# head/middle/tail perplexity terciles, and train preferentially on the
# head. The LM here is the corpus's own per-language unigram model
# (the engine's deterministic stand-in for KenLM — same construction
# as text.t_unigram_logprob, partitioned by lang).
PPL_BIN_SCALE = 1000.0  # logprob quantized to 3-decimal bins


def cur_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail perplexity buckets with doc and
    token counts — the CCNet curation signal.

    Tercile boundaries are computed at BIN granularity, never by a
    corpus-wide rank: per-doc mean logprob is quantized to 3 decimals
    (``floor(score*1000)``), the per-(lang, bin) histogram is
    cumulated best-bin-first, and a bin belongs to the bucket its
    LAST document falls into (``3*cum <= n`` → head, ``<= 2n`` →
    middle, else tail) — pure integer comparisons, so both engines
    agree exactly. The one window runs over the (lang, bin) histogram
    — thousands of rows regardless of corpus size (logprob spans a few
    units × 1000 bins), the ``c_pack_blocks`` reduced-relation
    construction — while every corpus-sized step is a keyed agg or an
    equi-join. The per-doc float fold is bucket-sorted for cross-engine
    exactness (the ``t_unigram_logprob`` trick).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    corpus = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = corpus.groupBy("lang").agg(F.sum("c").cast("double").alias("total"))
    per_tok = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    j = (
        per_tok.join(corpus, ["lang", "tok"])
        .join(tot, "lang")
        .select(
            "doc_id",
            "lang",
            "tok",
            "n",
            F.log(F.col("c").cast("double") / F.col("total")).alias("logp"),
        )
    )
    scored = (
        j.groupBy("doc_id", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "n", "logp"))),
                F.lit(0.0),
                lambda acc, s: acc + s["n"].cast("double") * s["logp"],
            ).alias("sum_logp"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(
                F.col("sum_logp") / F.col("n_tokens").cast("double"), 6
            ).alias("score"),
        )
    )
    binned = scored.select(
        "lang",
        "n_tokens",
        "score",
        F.floor(F.col("score") * F.lit(PPL_BIN_SCALE)).cast("bigint").alias("bin"),
    )
    hist = binned.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("nb"))
    # higher mean logprob = lower perplexity = better ("head") — cumulate
    # best-first over the reduced histogram relation
    w = Window.partitionBy("lang").orderBy(F.desc("bin"))
    nlang = binned.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    lab = (
        hist.select("lang", "bin", F.sum("nb").over(w).alias("cum"))
        .join(nlang, "lang")
        .select(
            "lang",
            "bin",
            F.when(F.col("cum") * 3 <= F.col("n"), F.lit("head"))
            .when(F.col("cum") * 3 <= F.col("n") * 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    return (
        binned.join(lab, ["lang", "bin"])
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .transform(ordered_result, "lang", "bucket")
    )


# Temperature (alpha) sampling over languages (XLM-R, Conneau et al.
# 2020 §3.1; mBERT's exponent-smoothed multinomial): resampling rates
# q_l ∝ p_l^alpha flatten the language distribution so high-resource
# languages stop drowning the tail — the standard multilingual
# pretraining mix.
LANG_TEMP_ALPHA = 0.3
LANG_TEMP_BUDGET = 0.5  # fraction of total corpus tokens in the mix


def cur_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language temperature-sampling audit: natural token share
    ``p``, alpha-smoothed target share ``q = p^alpha / sum(p^alpha)``,
    the boost factor ``q/p`` (tail languages > 1), and the token count
    a ``LANG_TEMP_BUDGET`` mix would draw from each language.

    One keyed agg to the |languages|-row relation; the smoothed
    normalizer is a scalar agg over that relation crossed back in —
    nothing corpus-sized after the first agg, SF-invariant output.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("t"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("t")).alias("p"),
        F.pow(
            F.col("n_tokens").cast("double") / F.col("t"),
            F.lit(LANG_TEMP_ALPHA),
        ).alias("pw"),
        F.col("t"),
    )
    # normalizer folded in lang-sorted order — a bare float sum over
    # the language relation would add in partition order and drift vs
    # the oracle's sum order (the t_unigram_logprob exactness rule)
    z = p.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "pw"))),
            F.lit(0.0),
            lambda acc, s: acc + s["pw"],
        ).alias("z")
    )
    q = F.col("pw") / F.col("z")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("p"), 9).alias("nat_share"),
            F.round(q, 9).alias("temp_share"),
            F.round(q / F.col("p"), 9).alias("boost"),
            F.round(
                q * F.lit(LANG_TEMP_BUDGET) * F.col("t"), 6
            ).alias("mix_tokens"),
        )
        .transform(ordered_result, "lang")
    )


# Z-order layout audit (Morton 1966; the Delta/Iceberg OPTIMIZE ZORDER
# story): at 100 TB the scan cost of a selective two-dimensional
# predicate is decided by DATA LAYOUT — min/max zone maps prune a file
# only if both dimensions are locally clustered, which random placement
# never gives and bit-interleaved ordering does.
ZORDER_BITS = 12  # per-dimension quantization (4096 cells)
ZORDER_SHARDS = 64
_Z_SHIFT = 2 * ZORDER_BITS - 6  # top 6 interleaved bits -> 64 shards
ZORDER_EPOCH = "1995-01-01"
# the audited predicate: custkey in [100,199], orderdate within 1996
ZQ_C_LO, ZQ_C_HI = 100, 199
ZQ_D_LO, ZQ_D_HI = 366, 730  # 1996, in days since ZORDER_EPOCH


def cur_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-pruning audit of naive (hash) vs Z-order layout for a
    2-D predicate on orders (custkey x orderdate): interleave 12 bits
    of each dimension into a Morton key, shard by its top 6 bits, and
    report how many shards a min/max zone map would prune versus the
    hash layout — rows_scanned/rows_total is the fraction of the table
    a 100 TB scan would actually read.

    All integer algebra (bit shifts, day counts, counts), so the
    oracle is bit-exact; one explode (2 layout rows per order), one
    keyed minmax agg with map-side partials, one 128-row final agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    cx = F.col("o_custkey").cast("bigint")
    cd = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit(ZORDER_EPOCH))
    ).cast("bigint")
    base = orders.select(cx.alias("c"), cd.alias("d"), "o_orderkey")
    z = F.lit(0).cast("bigint")
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(F.col("c"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(F.col("d"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    layouts = F.array(
        F.struct(
            F.lit("naive").alias("layout"),
            (md5_int32(F.col("o_orderkey")) % ZORDER_SHARDS).alias("shard"),
        ),
        F.struct(
            F.lit("zorder").alias("layout"),
            F.shiftright(z, _Z_SHIFT).alias("shard"),
        ),
    )
    both = base.select("c", "d", F.explode(layouts).alias("ls")).select(
        "c", "d", F.col("ls.layout").alias("layout"), F.col("ls.shard").alias("shard")
    )
    sh = both.groupBy("layout", "shard").agg(
        F.min("c").alias("mc"),
        F.max("c").alias("xc"),
        F.min("d").alias("md"),
        F.max("d").alias("xd"),
        F.count(F.lit(1)).alias("n"),
    )
    pruned = (
        (F.col("xc") < ZQ_C_LO)
        | (F.col("mc") > ZQ_C_HI)
        | (F.col("xd") < ZQ_D_LO)
        | (F.col("md") > ZQ_D_HI)
    )
    return (
        sh.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            F.sum(F.when(pruned, 1).otherwise(0)).cast("bigint").alias("n_pruned"),
            F.sum(F.when(~pruned, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n").cast("bigint").alias("rows_total"),
        )
        .select(
            "layout",
            "n_shards",
            "n_pruned",
            "rows_scanned",
            "rows_total",
            F.round(
                F.col("rows_scanned").cast("double")
                / F.col("rows_total").cast("double"),
                9,
            ).alias("scan_frac"),
        )
        .transform(ordered_result, "layout")
    )


BUDGET_PCT = 50  # select best docs until 50% of corpus tokens are used
# Target documents per FINE quality band: the widest prefix-sum task
# touches ~this many rows regardless of corpus size (the band widths
# below are derived from the doc count, not fixed quality units —
# VERDICT r7 item 5: a fixed width left the intra-band cum-sum task
# corpus/2001-sized).
BUDGET_BAND_DOCS = 4096
_QUALITY_DOMAIN = 2_000_000_001  # micro-logits span ±1e9


def cur_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: keep the highest-quality documents until
    a global token budget is exhausted ("train on the best 50% of
    tokens" — the selection step behind quality-pruned corpora like
    FineWeb-Edu and phi-style data diets).

    Quality = the hashed-weight LR logit of :func:`text.t_quality_lr`,
    kept in EXACT integer micro-logits (``wsum*1_000_000 div n_tok``)
    so ranking never touches a float. The greedy cut needs each doc's
    running token total in global quality order — a prefix sum over a
    corpus-wide sort. Instead of one global window this is a TWO-LEVEL
    banded prefix sum, with band widths derived from the doc count so
    every stage stays bounded at any corpus size:

    - fine band = ``quality div w2`` where ``w2`` targets
      ``BUDGET_BAND_DOCS`` docs per band → the intra-band doc window
      (partitioned by fine band) cum-sums ~4k rows per task;
    - coarse band groups ``⌈√n_fine⌉`` fine bands → the per-coarse
      window over fine-band sums reads ≤ √n_fine rows per task;
    - the only unpartitioned window runs over the COARSE sums —
      ~√(n_docs/4096) rows (≈16k rows at a trillion docs).

    Banding is result-invariant (any monotone function of the sort key
    partitions the prefix sum exactly — ties share a band), so the
    DuckDB oracle keeps its plan-free single-window formulation. The
    doc count itself is one scalar ``count()`` on the checkpointed
    per-doc relation (bounded driver state, the k-means precedent).
    Caveat: band population tracks the quality DISTRIBUTION — the
    md5-derived logit is near-uniform; a pathologically spiky metric
    would concentrate docs in one fine band and want the hot-bucket
    cap treatment (dedup's MINHASH_BUCKET_CAP).

    A doc is kept iff the tokens of all strictly-better-ranked docs
    fit under the budget (``cum_before < budget``); the straddling doc
    is flagged ``partial`` so a downstream packer can truncate it.
    """
    import math

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.col("text"), " ")
    wsum = F.aggregate(
        F.transform(toks, lambda t: md5_int32(t) % 2001 - F.lit(1000)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per_doc = barrier(docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        wsum.alias("__wsum"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("(__wsum * 1000000) div n_tokens").alias("quality"),
    ))  # feeds the count, band sums, total, and join back
    n_docs = per_doc.count()
    n_fine = max(1, n_docs // BUDGET_BAND_DOCS)
    w2 = max(1, _QUALITY_DOMAIN // n_fine)  # fine band width
    g = max(1, math.isqrt(n_fine))  # fine bands per coarse band
    per_doc = per_doc.withColumn(
        "fine", F.expr(f"quality div {w2}")
    ).withColumn("coarse", F.expr(f"fine div {g}"))
    total = per_doc.agg(F.sum("n_tokens").alias("__total")).select(
        F.expr(f"(__total * {BUDGET_PCT}) div 100").alias("budget")
    )
    fsums = barrier(per_doc.groupBy("coarse", "fine").agg(
        F.sum("n_tokens").alias("ft")
    ))  # feeds the coarse rollup AND the fine offsets
    csums = fsums.groupBy("coarse").agg(F.sum("ft").alias("ct"))
    wc = Window.orderBy(F.desc("coarse")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    coffs = csums.select(
        "coarse", F.coalesce(F.sum("ct").over(wc), F.lit(0)).alias("coarse_off")
    )
    wf = (
        Window.partitionBy("coarse")
        .orderBy(F.desc("fine"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    foffs = fsums.select(
        "coarse",
        "fine",
        F.coalesce(F.sum("ft").over(wf), F.lit(0)).alias("fine_off"),
    ).join(F.broadcast(coffs), "coarse")
    wi = (
        Window.partitionBy("fine")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (
        F.col("coarse_off")
        + F.col("fine_off")
        + F.coalesce(F.sum("n_tokens").over(wi), F.lit(0))
    )
    out = (
        per_doc.join(foffs, ["coarse", "fine"])
        .withColumn("cum_before", cum_before)
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "quality",
            "n_tokens",
            "cum_before",
            (F.col("cum_before") < F.col("budget")).cast("int").alias("keep"),
            (
                (F.col("cum_before") < F.col("budget"))
                & (F.col("cum_before") + F.col("n_tokens") > F.col("budget"))
            )
            .cast("int")
            .alias("partial"),
        )
    )
    return ordered_result(out, "doc_id")


SCHED_ALPHA = 0.5  # source-temperature exponent for schedule weights
SCHED_N = 500  # schedule prefix emitted (the audit window)
SCHED_BUCKETS = 64  # intra-source rank buckets (two-phase prefix sum)


def cur_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING-ORDER scheduler — the step after
    ``cur_mix`` (what rate per source) and ``cur_shuffle`` (what order
    within a shard): the actual interleaved global order a trainer
    reads, via stride scheduling (Waldspurger & Weihl, OSDI 1994 —
    the same algorithm fair queuing and data-mixing loaders use).
    Each source advances a virtual time ``vt = intra_rank / w_s`` with
    temperature-adjusted weight ``w_s ∝ (n_s/N)^SCHED_ALPHA``; the
    global order is ascending vt — sources interleave proportionally
    to their weights without any RNG, and the first ``SCHED_N``
    positions are emitted as the audit window.

    Scale shape: weights come from one source-level agg (+ a
    source-sorted normalizer fold, the cur_lang_temperature
    exactness rule); intra-source rank never windows the corpus in
    one partition — rank within (source, md5-bucket) partitions, plus
    bucket offsets from a window over the (source, bucket)-level
    COUNT relation (64 rows/source), the c_pack_blocks two-phase
    prefix-sum shape. The schedule prefix is TakeOrdered-bounded;
    position comes from a count-of-better broadcast self-join on that
    ``SCHED_N``-row pool (the rag_hard_negatives pattern), never a
    global single-partition window. vt is 9-rounded BEFORE ordering
    so both engines sort identical keys.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("t"))
    p = counts.join(F.broadcast(tot)).select(
        "source",
        F.pow(F.col("n").cast("double") / F.col("t"), F.lit(SCHED_ALPHA)).alias(
            "pw"
        ),
    )
    z = p.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "pw"))),
            F.lit(0.0),
            lambda acc, e: acc + e["pw"],
        ).alias("z")
    )
    w = p.join(F.broadcast(z)).select(
        "source", (F.col("pw") / F.col("z")).alias("w")
    )
    d = docs.select(
        "doc_id",
        "source",
        (md5_int32(F.col("doc_id")) % SCHED_BUCKETS).alias("b"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    wb = Window.partitionBy("source", "b").orderBy("k", "doc_id")
    ranked = d.withColumn("rb", F.row_number().over(wb))
    wo = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        d.groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("nb"))
        .withColumn("off", F.coalesce(F.sum("nb").over(wo), F.lit(0)))
        .select("source", "b", "off")
    )
    vt = (
        ranked.join(offs, ["source", "b"])
        .join(F.broadcast(w), "source")
        .select(
            "doc_id",
            "source",
            (F.col("rb") + F.col("off")).cast("bigint").alias("intra_rank"),
            F.round((F.col("rb") + F.col("off")) / F.col("w"), 9).alias("vt"),
        )
    )
    pool = barrier(vt.orderBy("vt", "doc_id").limit(SCHED_N), eager=False)
    a, b = pool.alias("a"), pool.alias("b")
    better = (F.col("b.vt") < F.col("a.vt")) | (
        (F.col("b.vt") == F.col("a.vt"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    return (
        a.join(b, better, "left")
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.source").alias("source"),
            F.col("a.intra_rank").alias("intra_rank"),
            F.col("a.vt").alias("vt"),
        )
        .agg(F.count(F.col("b.doc_id")).alias("n_better"))
        .select(
            (F.col("n_better") + 1).cast("bigint").alias("position"),
            "doc_id",
            "source",
            "intra_rank",
            "vt",
        )
        .transform(ordered_result, "position")
    )


QUERIES = {
    "cur_funnel": cur_funnel,
    "cur_token_budget": cur_token_budget,
    "cur_split_leakage": cur_split_leakage,
    "cur_shards": cur_shards,
    "cur_mix": cur_mix,
    "cur_shuffle": cur_shuffle,
    "cur_ppl_buckets": cur_ppl_buckets,
    "cur_zorder": cur_zorder,
    "cur_lang_temperature": cur_lang_temperature,
    "cur_schedule": cur_schedule,
}


def _oracle() -> str:
    from conduit_spark.analytics.dedup import ORACLES as _DEDUP_ORACLES  # noqa: F401
    from conduit_spark.analytics.sampling import _GATE, _RATE
    from conduit_spark.analytics.text import ORACLES as _TEXT_ORACLES  # noqa: F401
    from conduit_spark.analytics.dedup import CONTAM_K
    from conduit_spark.functions.hashing import sql_md5_int32

    stop = ",".join(f"'{w}'" for w in STOPWORDS)
    return f"""
        WITH scored AS (
            SELECT doc_id, lang, md5(text) AS h
            FROM (
                SELECT doc_id, lang, text,
                       CAST(len(string_split(text,' ')) AS DOUBLE) AS n_tok,
                       CAST(len(list_filter(string_split(text,' '),
                            x -> x IN ({stop}))) AS DOUBLE) AS n_stop,
                       CAST(len(list_distinct(string_split(text,' ')))
                            AS DOUBLE) AS n_uniq,
                       CAST(length(replace(text,' ','')) AS DOUBLE) AS n_nonspace
                FROM documents)
            WHERE round(0.3 * (n_stop / n_tok) + 0.4 * (n_uniq / n_tok)
                  + 0.3 * least((n_nonspace / n_tok) / 8.0, 1.0), 9)
                  >= {QUALITY_MIN}),
        keepers AS (SELECT h, min(doc_id) AS doc_id FROM scored GROUP BY h),
        s2 AS (SELECT scored.* FROM scored
               JOIN keepers USING (h, doc_id)),
        rel AS (
            SELECT DISTINCT doc_id, {sql_md5_int32("g")} AS x
            FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(string_split(text,' ')) - {CONTAM_K - 1}),
                           i -> array_to_string(
                               string_split(text,' ')[i:i+{CONTAM_K - 1}], ' ')
                       )) AS g
                FROM documents
                WHERE len(string_split(text,' ')) >= {CONTAM_K})),
        bench AS (SELECT DISTINCT x FROM rel WHERE doc_id % {CONTAM_MOD} = 0),
        nonb AS (SELECT * FROM rel WHERE doc_id % {CONTAM_MOD} <> 0),
        contam AS (
            SELECT m.doc_id
            FROM (SELECT doc_id, count(*) AS n_matched FROM nonb
                  WHERE x IN (SELECT x FROM bench) GROUP BY 1) m
            JOIN (SELECT doc_id, count(*) AS n_grams FROM nonb GROUP BY 1) t
              USING (doc_id)
            WHERE round(CAST(m.n_matched AS DOUBLE)
                        / CAST(t.n_grams AS DOUBLE), 9) >= {CONTAM_MAX}),
        s3 AS (
            SELECT * FROM s2
            WHERE doc_id % {CONTAM_MOD} <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contam)),
        s4 AS (SELECT * FROM s3 WHERE {_GATE} < {_RATE})
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
                   CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
            UNION ALL SELECT 1, 'quality',
                   CAST((SELECT count(*) FROM scored) AS BIGINT)
            UNION ALL SELECT 2, 'dedup',
                   CAST((SELECT count(*) FROM s2) AS BIGINT)
            UNION ALL SELECT 3, 'decontaminate',
                   CAST((SELECT count(*) FROM s3) AS BIGINT)
            UNION ALL SELECT 4, 'sample',
                   CAST((SELECT count(*) FROM s4) AS BIGINT))
        ORDER BY stage_idx
    """


def _shards_oracle() -> str:
    from conduit_spark.functions.hashing import sql_md5_int32

    shard = f"{sql_md5_int32('CAST(doc_id AS VARCHAR)')} % {N_SHARDS}"
    return f"""
        SELECT CAST({shard} AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY shard_id
    """


def _mix_oracle() -> str:
    return f"""
        WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
        totals AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   count(*) AS n_sources
            FROM per_src)
        SELECT source, n_docs, n_tokens,
               round(least(1.0, {MIX_BUDGET_FRAC} * CAST(total_tokens AS DOUBLE)
                     / CAST(n_sources AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE)), 9) AS rate,
               round(round(least(1.0,
                     {MIX_BUDGET_FRAC} * CAST(total_tokens AS DOUBLE)
                     / CAST(n_sources AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE)), 9)
                     * CAST(n_tokens AS DOUBLE), 6) AS exp_tokens
        FROM per_src, totals
        ORDER BY source
    """


ORACLES = {
    "cur_funnel": _oracle(),
    "cur_shards": _shards_oracle(),
    "cur_mix": _mix_oracle(),
    "cur_shuffle": f"""
        SELECT {sql_md5_int32("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard_id,
               md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
               doc_id,
               CAST(row_number() OVER (
                   PARTITION BY {sql_md5_int32("CAST(doc_id AS VARCHAR)")} % {N_SHARDS}
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos_in_shard
        FROM documents
        ORDER BY shard_id, pos_in_shard
    """,
}


def _split_leakage_oracle() -> str:
    from conduit_spark.analytics.dedup import _LSH_CTES

    hb = sql_md5_int32("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH {_LSH_CTES},
        splits AS (
            SELECT doc_id,
                   CASE WHEN {hb} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                        WHEN {hb} % 100 < {SPLIT_VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents),
        j AS (
            SELECT least(a.split, b.split) AS split_a,
                   greatest(a.split, b.split) AS split_b
            FROM lsh_pairs p
            JOIN splits a ON p.id_a = a.doc_id
            JOIN splits b ON p.id_b = b.doc_id)
        SELECT split_a, split_b,
               count(*) AS n_pairs,
               split_a <> split_b AS is_leakage
        FROM j
        GROUP BY split_a, split_b
        ORDER BY split_a, split_b
    """


ORACLES["cur_split_leakage"] = _split_leakage_oracle()

ORACLES["cur_ppl_buckets"] = f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    corpus AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS total FROM corpus GROUP BY 1),
    per_tok AS (
        SELECT doc_id, lang, tok, count(*) AS n FROM toks GROUP BY 1, 2, 3),
    j AS (
        SELECT doc_id, lang, tok, n,
               ln(CAST(c AS DOUBLE) / total) AS logp
        FROM per_tok JOIN corpus USING (lang, tok) JOIN tot USING (lang)),
    scored AS (
        SELECT doc_id, lang,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               round(list_sum(list_transform(
                   list_sort(list(struct_pack(tok := tok, n := n, logp := logp))),
                   s -> CAST(s.n AS DOUBLE) * s.logp))
                   / CAST(sum(n) AS DOUBLE), 6) AS score
        FROM j GROUP BY 1, 2),
    binned AS (
        SELECT lang, n_tokens, score,
               CAST(floor(score * {PPL_BIN_SCALE}) AS BIGINT) AS bin
        FROM scored),
    hist AS (SELECT lang, bin, count(*) AS nb FROM binned GROUP BY 1, 2),
    cum AS (
        SELECT lang, bin,
               sum(nb) OVER (PARTITION BY lang ORDER BY bin DESC) AS cum
        FROM hist),
    nl AS (SELECT lang, count(*) AS n FROM binned GROUP BY 1),
    lab AS (
        SELECT c.lang, c.bin,
               CASE WHEN c.cum * 3 <= nl.n THEN 'head'
                    WHEN c.cum * 3 <= nl.n * 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM cum c JOIN nl USING (lang))
    SELECT b.lang, l.bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
           min(b.score) AS min_score,
           max(b.score) AS max_score
    FROM binned b JOIN lab l USING (lang, bin)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

_Z_EXPR = " + ".join(
    f"(((c >> {i}) & 1) << {2 * i}) + (((d >> {i}) & 1) << {2 * i + 1})"
    for i in range(ZORDER_BITS)
)
_Z_PRUNED = (
    f"(xc < {ZQ_C_LO} OR mc > {ZQ_C_HI} OR xd < {ZQ_D_LO} OR md_ > {ZQ_D_HI})"
)

ORACLES["cur_zorder"] = f"""
    WITH b0 AS (
        SELECT CAST(o_custkey AS BIGINT) AS c,
               CAST(date_diff('day', DATE '{ZORDER_EPOCH}',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               o_orderkey
        FROM orders),
    b AS (
        SELECT c, d,
               {sql_md5_int32("CAST(o_orderkey AS VARCHAR)")}
                   % {ZORDER_SHARDS} AS shard_naive,
               ({_Z_EXPR}) >> {_Z_SHIFT} AS shard_z
        FROM b0),
    lay AS (
        SELECT c, d, 'naive' AS layout, shard_naive AS shard FROM b
        UNION ALL
        SELECT c, d, 'zorder' AS layout, shard_z AS shard FROM b),
    sh AS (
        SELECT layout, shard,
               min(c) AS mc, max(c) AS xc,
               min(d) AS md_, max(d) AS xd,
               count(*) AS n
        FROM lay GROUP BY 1, 2)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(CASE WHEN {_Z_PRUNED} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pruned,
           CAST(sum(CASE WHEN {_Z_PRUNED} THEN 0 ELSE n END) AS BIGINT)
               AS rows_scanned,
           CAST(sum(n) AS BIGINT) AS rows_total,
           round(CAST(sum(CASE WHEN {_Z_PRUNED} THEN 0 ELSE n END) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE), 9) AS scan_frac
    FROM sh
    GROUP BY layout
    ORDER BY layout
"""

ORACLES["cur_lang_temperature"] = f"""
    WITH per AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per),
    p AS (
        SELECT lang, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / tot.t AS p,
               pow(CAST(n_tokens AS DOUBLE) / tot.t,
                   {LANG_TEMP_ALPHA}) AS pw,
               tot.t AS t
        FROM per, tot),
    z AS (
        SELECT list_sum(list_transform(
                   list_sort(list(struct_pack(lang := lang, pw := pw))),
                   e -> e.pw)) AS z
        FROM p)
    SELECT lang, n_docs, n_tokens,
           round(p, 9) AS nat_share,
           round(pw / z.z, 9) AS temp_share,
           round(pw / z.z / p, 9) AS boost,
           round(pw / z.z * {LANG_TEMP_BUDGET} * t, 6) AS mix_tokens
    FROM p, z
    ORDER BY lang
"""

ORACLES["cur_schedule"] = f"""
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counts),
    p AS (
        SELECT source, pow(CAST(n AS DOUBLE) / tot.t, {SCHED_ALPHA}) AS pw
        FROM counts, tot),
    z AS (
        SELECT list_sum(list_transform(
            list_sort(list(struct_pack(source := source, pw := pw))),
            e -> e.pw)) AS z
        FROM p),
    w AS (SELECT source, pw / z.z AS w FROM p, z),
    d AS (
        SELECT doc_id, source,
               {sql_md5_int32("CAST(doc_id AS VARCHAR)")} % {SCHED_BUCKETS} AS b,
               md5(CAST(doc_id AS VARCHAR)) AS k
        FROM documents),
    rb AS (
        SELECT doc_id, source, b,
               row_number() OVER (PARTITION BY source, b ORDER BY k, doc_id)
                   AS rb
        FROM d),
    offs AS (
        SELECT source, b,
               COALESCE(sum(nb) OVER (PARTITION BY source ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM (SELECT source, b, count(*) AS nb FROM d GROUP BY source, b)),
    vt AS (
        SELECT doc_id, source,
               CAST(rb.rb + offs.off AS BIGINT) AS intra_rank,
               round((rb.rb + offs.off) / w.w, 9) AS vt
        FROM rb JOIN offs USING (source, b) JOIN w USING (source)),
    pool AS (SELECT * FROM vt ORDER BY vt, doc_id LIMIT {SCHED_N})
    SELECT CAST(row_number() OVER (ORDER BY vt, doc_id) AS BIGINT)
               AS position,
           doc_id, source, intra_rank, vt
    FROM pool
    ORDER BY position
"""

ORACLES["cur_token_budget"] = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_sum(list_transform(
                   string_split(text, ' '),
                   t -> {sql_md5_int32('t')} % 2001 - 1000)) AS wsum
        FROM documents),
    q AS (
        SELECT doc_id, n_tokens,
               CAST((CAST(wsum AS BIGINT) * 1000000) // n_tokens AS BIGINT)
                   AS quality
        FROM d),
    b AS (
        SELECT (CAST(sum(n_tokens) AS BIGINT) * {BUDGET_PCT}) // 100 AS budget
        FROM q),
    c AS (
        SELECT doc_id, quality, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
        FROM q)
    SELECT doc_id, quality, n_tokens, cum_before,
           CASE WHEN cum_before < budget THEN 1 ELSE 0 END AS keep,
           CASE WHEN cum_before < budget
                 AND cum_before + n_tokens > budget THEN 1 ELSE 0 END AS partial
    FROM c, b
    ORDER BY doc_id
"""
