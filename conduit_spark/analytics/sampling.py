"""Deterministic corpus sampling for training-data curation.

Large-scale pipelines rarely train on the full crawl: they sample per
stratum (language, source, quality band) at configured rates. Doing it
with ``rand()`` is irreproducible and unauditable; the standard
practice is hash-gating — keep a doc iff
``hash(doc_id) / 2^32 < rate(stratum)``. That makes the sample:

- **deterministic** — same corpus, same rates → same sample, on any
  cluster layout (no RNG seeds per partition);
- **stable under growth** — new docs don't flip old keep decisions;
- **exactly SQL-auditable** — the md5-derived gate reproduces in any
  engine (functions/hashing.md5_int32), so the oracle is exact.

Plan shape: one narrow scan (hash + per-row gate), one tiny groupBy —
no joins, no shuffle beyond the stratum agg. SF-invariant at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark.functions.hashing import md5_int32, sql_md5_int32
from conduit_spark.sources.tables import load_table
from conduit_spark.analytics import ordered_result
from conduit_spark.plans import barrier

# per-language keep rates (the stratification config)
RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}
DEFAULT_RATE = 0.05
_SCALE = 2**32


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = DEFAULT_RATE,
) -> DataFrame:
    """Rows whose hash-gate admits them at their stratum's rate."""
    rate = None
    for s, r in sorted(rates.items()):
        branch = F.when(F.col(stratum_col) == s, F.lit(r))
        rate = branch if rate is None else rate.when(F.col(stratum_col) == s, F.lit(r))
    rate = rate.otherwise(F.lit(default_rate)) if rate is not None else F.lit(default_rate)
    gate = md5_int32(F.col(key_col)).cast("double") / F.lit(float(_SCALE))
    return df.filter(gate < rate)


def smp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sample audit: kept vs total vs configured rate."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", "doc_id", RATES).select(
        "lang", F.lit(1).alias("keep")
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    kept_counts = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kept_counts, "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
        .transform(ordered_result, "lang")
    )


def smp_stratified_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled doc ids themselves (audit-joinable downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "lang", "doc_id", RATES)
        .select("doc_id", "lang")
        .transform(ordered_result, "doc_id")
    )


IMPORTANCE_FULL_AT = 512  # docs with >= this many tokens always kept


def smp_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling with Horvitz-Thompson weights:
    keep each document with probability proportional to its length
    (``rate = min(1, n_tokens/512)``) via the same md5 hash-gate, and
    attach ``weight = 1/rate`` so any downstream statistic over the
    sample re-weights to an unbiased full-corpus estimate — the
    standard curation move when short/low-signal docs dominate a crawl
    but must not dominate training.

    Exactness: the rate is an integer token count divided by one
    double literal — bit-identical in both engines — and the gate is
    the shared md5 hash, so the kept SET and the weights are
    oracle-exact. Plan: one narrow scan, zero shuffles before the
    final order; SF-invariant at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    rate = F.least(
        F.lit(1.0),
        F.greatest(n_tok, F.lit(1)).cast("double")
        / F.lit(float(IMPORTANCE_FULL_AT)),
    )
    gate = md5_int32(F.col("doc_id")).cast("double") / F.lit(float(_SCALE))
    return (
        docs.select(
            "doc_id",
            n_tok.cast("bigint").alias("n_tokens"),
            F.round(rate, 9).alias("keep_rate"),
            F.round(F.lit(1.0) / rate, 9).alias("ht_weight"),
            gate.alias("g"),
        )
        .filter(F.col("g") < F.col("keep_rate"))
        .drop("g")
        .transform(ordered_result, "doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
# 2023): select raw-corpus documents whose hashed-n-gram feature
# distribution looks like a small target domain. The standard
# pretraining-data move when you have a quality exemplar set (wiki,
# books) and a 100 TB crawl: score every raw doc with the bucketed
# log-likelihood ratio log p_target(x)/p_raw(x), then Gumbel-top-k
# resample proportionally to the importance weights.
DSIR_BUCKETS = 512  # hashed feature space (the paper uses 10k at scale)
DSIR_TARGET_SOURCES = ("src0", "src1")  # the target-domain exemplar slice
DSIR_K = 64  # resampled docs


def smp_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling over the documents corpus.

    Features are hashed unigrams + bigrams: every gram lands in one of
    ``DSIR_BUCKETS`` buckets via the shared md5 hash, and the two
    bucket distributions (target slice vs the rest) are Laplace-
    smoothed: ``p[b] = (c[b]+1) / (N+B)``. A raw doc's importance
    weight is ``log w(x) = sum_b n_x[b] * (log p_t[b] - log p_r[b])``
    and selection is deterministic Gumbel-top-k — ``logw +
    (-ln(-ln(u)))`` with ``u`` derived from the md5 hash-gate, so the
    sample is exactly reproducible in any engine (no RNG state).

    Plan shape, all SF-linear: ONE exploded gram pass reduces to
    per-(doc, bucket) counts (<=512 rows per doc, materialized once so
    the histogram and the scoring don't each recompute the corpus-wide
    explode); the <=512-row bucket histogram comes from conditional
    sums over that reduced relation (map-side partials); the log-ratio
    relation is broadcast back onto the per-doc counts; the per-doc
    fold runs over the bucket-sorted list so both engines sum identical
    doubles in identical order (the ``t_unigram_logprob`` exactness
    trick); top-k is a TakeOrdered, not a global sort. At 100 TB
    nothing here exceeds: one corpus-linear explode, keyed aggs, a
    512-row broadcast, top-k.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    base = docs.select(
        "doc_id",
        "source",
        F.col("source").isin(*DSIR_TARGET_SOURCES).alias("tgt"),
        F.split(F.col("text"), " ").alias("t"),
    )
    bigrams = F.zip_with(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = base.select(
        "doc_id",
        "source",
        "tgt",
        F.explode(
            F.when(F.size("t") >= 2, F.concat(F.col("t"), bigrams)).otherwise(
                F.col("t")
            )
        ).alias("gram"),
    ).select(
        "doc_id",
        "source",
        "tgt",
        (md5_int32(F.col("gram")) % DSIR_BUCKETS).alias("b"),
    )
    # one explode+hash pass: reduce to per-(doc, bucket) counts first
    # (bounded by 512 buckets/doc — far smaller than the gram stream),
    # materialized once so the histogram and the per-doc scoring don't
    # each recompute the corpus-wide explode
    pdb = barrier(
        grams.groupBy("doc_id", "source", "tgt", "b")
        .agg(F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    hist = pdb.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), F.col("n")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("tgt"), F.col("n")).otherwise(0)).alias("cr"),
    )
    tots = hist.agg(
        F.sum("ct").cast("double").alias("tt"),
        F.sum("cr").cast("double").alias("tr"),
    )
    # buckets no gram ever hits contribute 0 to every doc's weight, so
    # the ratio relation only needs the buckets present in the corpus
    lam = (
        hist.crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log(
                    (F.col("ct").cast("double") + 1.0)
                    / (F.col("tt") + F.lit(float(DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("cr").cast("double") + 1.0)
                    / (F.col("tr") + F.lit(float(DSIR_BUCKETS)))
                )
            ).alias("lam"),
        )
    )
    per_doc = (
        pdb.filter(~F.col("tgt"))
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("b", "n", "lam"))),
                F.lit(0.0),
                lambda acc, s: acc + s["n"].cast("double") * s["lam"],
            ).alias("logw")
        )
    )
    u = (md5_int32(F.col("doc_id")).cast("double") + 0.5) / F.lit(float(_SCALE))
    gumbel = -F.log(-F.log(u))
    return (
        per_doc.select(
            "doc_id",
            "source",
            F.round(F.col("logw"), 6).alias("log_weight"),
            F.round(F.col("logw") + gumbel, 6).alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(DSIR_K)
    )


RESERVOIR_K = 16  # exact sample size per stratum
RESERVOIR_SALTS = 64


def smp_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-``RESERVOIR_K`` deterministic reservoir per source: the k
    docs with the smallest ``md5(doc_id)`` — Algorithm-R semantics
    without RNG state (the rate-based gates above can't promise an
    exact sample SIZE; evaluation sets and few-shot pools need one).

    Same two-phase k-min shape as the KMV sketches (r8): per-(source,
    salt) partial top-k of (hash, doc_id) structs, merge the ≤ SALTS
    k-sized arrays, slice k, posexplode for ranks. No window ranks the
    full relation; the reservoir is mergeable O(k) state per stratum,
    and growth never flips old picks except by displacing the largest
    hash — the standard bottom-k property."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        F.struct(
            md5_int32(F.col("doc_id")).alias("h"),
            F.col("doc_id").alias("doc_id"),
        ).alias("s"),
    )
    partial = keyed.groupBy(
        "source", (F.col("s.doc_id") % RESERVOIR_SALTS).alias("salt")
    ).agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, RESERVOIR_K).alias("m")
    )
    merged = partial.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("m"))), 1, RESERVOIR_K
        ).alias("res")
    )
    return (
        merged.select("source", F.posexplode("res").alias("pos", "s"))
        .select(
            "source",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.h").cast("bigint").alias("sample_key"),
        )
        .transform(ordered_result, "source", "rank")
    )


BALANCED_SALTS = 8  # two-phase partial bottom-k fan-in (reservoir shape)


def smp_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced subset selection over the labeled embedding
    table — the undersampling step probe/classifier training runs on
    a skewed corpus: every label keeps exactly ``k = |minority
    class|`` vectors (the k smallest ``md5(vec_id)`` per label, ties
    impossible — ids are unique), so the resulting set is perfectly
    balanced and REPRODUCIBLE with no RNG. Emits (label, rank,
    vec_id, sample_key) per kept vector.

    k is data-dependent (the minority-class count, one tiny
    two-level agg → O(1) driver state, the :func:`_kmeans_k`
    pattern); the oracle recomputes the same k from its own GROUP BY
    and replays the identical hash order, so a drifted gate or rank
    cannot match.

    Scale shape: the same two-phase bottom-k as :func:`smp_reservoir`
    — per-(label, salt) partial sorted-top-k arrays (map-side
    partials), merge the ≤ ``BALANCED_SALTS`` k-sized arrays per
    label, slice k, posexplode. No window ever ranks the full
    relation; per-label state is mergeable O(k).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    k = int(
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n"))
        .collect()[0][0]
    )
    keyed = emb.select(
        "label",
        F.struct(
            md5_int32(F.col("vec_id")).alias("h"),
            F.col("vec_id").alias("vec_id"),
        ).alias("s"),
    )
    partial = keyed.groupBy(
        "label", (F.col("s.vec_id") % BALANCED_SALTS).alias("salt")
    ).agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("m"))
    merged = partial.groupBy("label").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("m"))), 1, k).alias(
            "res"
        )
    )
    return (
        merged.select("label", F.posexplode("res").alias("pos", "s"))
        .select(
            F.col("label").cast("bigint").alias("label"),
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.h").cast("bigint").alias("sample_key"),
        )
        .transform(ordered_result, "label", "rank")
    )


CORESET_K = 8  # centers selected by the greedy k-center traversal


def smp_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection over the embedding table —
    farthest-point traversal (Gonzalez 1985's 2-approximation; the
    geometry-coverage data-pruning selector used for active learning
    and training-set downsizing, e.g. Sener & Savarese ICLR 2018):
    start from the smallest ``vec_id``, then ``CORESET_K - 1`` times
    pick the vector FARTHEST from everything chosen so far (max of
    min-distance-to-chosen; ties to the smallest id). Returns each
    selected center with its selection round, its distance to the
    prior set at selection time, and how many corpus vectors it
    covers (argmin assignment over the final centers).

    Exactness: all distances ride the :mod:`similarity` quantized
    integer micro-unit arithmetic (``_QUANT_EXPR``; int64 sums are
    order-free), max/argmax tie-breaks are id-deterministic, and the
    DuckDB oracle unrolls the identical ``CORESET_K - 1`` selection
    rounds, so a wrong distance, exclusion, or tie-break cannot match.

    Scale shape: per round, ONE narrow scan computes each vector's
    min-distance to ≤ K broadcast center literals in whole-stage
    codegen and a single max(struct) aggregation returns O(1) driver
    state — the canonical distributed farthest-point loop (K scans
    total, no joins, no shuffles beyond each round's tiny agg). The
    final coverage relation is one more projection + K-group count.
    Driver state: K centers × d ints, exactly like the Lloyd trainer.
    """
    from conduit_spark.analytics import tiny_loop_aqe_off
    from conduit_spark.analytics.similarity import _QUANT_EXPR

    emb = load_table(spark, sf_dir, "embeddings")
    # r15: the K selection rounds are eager collects whose shuffles
    # carry ONE row past the partial agg — AQE's per-stage job split
    # doubled every round's job count for no decision it could make
    # (warm A/B below in OPTIMIZATION_r15.md); unconditional because a
    # scalar agg's exchange is O(partitions) rows at ANY corpus size.
    with tiny_loop_aqe_off(spark):
        vecs = barrier(emb.select(
            "vec_id", F.expr(_QUANT_EXPR).alias("q")
        ))
        first = (
            vecs.orderBy("vec_id").limit(1).select("vec_id", "q").collect()[0]
        )
        chosen = [(int(first["vec_id"]), list(first["q"]))]
        rows = [(0, int(first["vec_id"]), 0)]
        for _ in range(1, CORESET_K):
            arrs = ", ".join(
                "array(" + ",".join(f"{v}L" for v in c) + ")"
                for _, c in chosen
            )
            dexpr = (
                f"array_min(transform(array({arrs}), c -> "
                f"aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), "
                f"BIGINT(0), (acc, x) -> acc + x)))"
            )
            # q rides along as a NON-ordering third struct field: struct
            # comparison is lexicographic and nid = -vec_id is unique, so
            # (d, nid) always decides before q is consulted — one scan per
            # round returns both the pick and its vector (K scans total,
            # not 2K; VERDICT r12 item 4).
            top = (
                vecs.filter(~F.col("vec_id").isin([cid for cid, _ in chosen]))
                .select("vec_id", F.expr(dexpr).alias("d"), "q")
                .agg(
                    F.max(
                        F.struct(
                            F.col("d"),
                            (-F.col("vec_id")).alias("nid"),
                            F.col("q"),
                        )
                    ).alias("s")
                )
                .collect()[0]["s"]
            )
            pick, dist = -int(top["nid"]), int(top["d"])
            chosen.append((pick, list(top["q"])))
            rows.append((len(chosen) - 1, pick, dist))
    # coverage: argmin assignment over the final centers (ties to the
    # earliest selection round — the same dist*K + position encoding
    # the k-means assignment uses), then one K-group count
    n = len(chosen)
    arrs = ", ".join(
        "array(" + ",".join(f"{v}L" for v in c) + ")" for _, c in chosen
    )
    assign = (
        f"CAST(array_min(transform(array({arrs}), (c, i) -> "
        f"aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), "
        f"BIGINT(0), (acc, x) -> acc + x) * {n}L + i)) % {n}L AS INT)"
    )
    covered = (
        vecs.select(F.expr(assign).alias("rnd"))
        .groupBy("rnd")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    sel = spark.createDataFrame(
        rows, "sel_round int, vec_id long, sel_dist long"
    )
    return (
        sel.join(covered, sel["sel_round"] == covered["rnd"], "left")
        .select(
            F.col("sel_round").cast("bigint").alias("sel_round"),
            "vec_id",
            "sel_dist",
            F.coalesce(F.col("n_covered"), F.lit(0))
            .cast("bigint")
            .alias("n_covered"),
        )
        .transform(ordered_result, "sel_round")
    )


QUERIES = {
    "smp_stratified": smp_stratified,
    "smp_importance": smp_importance,
    "smp_stratified_ids": smp_stratified_ids,
    "smp_dsir": smp_dsir,
    "smp_reservoir": smp_reservoir,
    "smp_balanced_classes": smp_balanced_classes,
    "smp_coreset": smp_coreset,
}

_GATE = f"CAST({sql_md5_int32('CAST(doc_id AS VARCHAR)')} AS DOUBLE) / {float(_SCALE)}"
_RATE = (
    "CASE "
    + " ".join(f"WHEN lang = '{s}' THEN {r}" for s, r in sorted(RATES.items()))
    + f" ELSE {DEFAULT_RATE} END"
)

ORACLES = {
    # balanced undersampling: k = minority-class count via a scalar
    # CTE (the data-dependent-parameter pattern the k-means kp CTE
    # uses), bottom-k by md5(vec_id) per label
    "smp_balanced_classes": f"""
        WITH kp AS MATERIALIZED (
            SELECT min(n) AS k FROM (
                SELECT count(*) AS n FROM embeddings GROUP BY label))
        SELECT CAST(label AS BIGINT) AS label,
               CAST(row_number() OVER (
                   PARTITION BY label
                   ORDER BY {sql_md5_int32('CAST(vec_id AS VARCHAR)')}, vec_id
               ) AS INT) AS rank,
               vec_id,
               {sql_md5_int32('CAST(vec_id AS VARCHAR)')} AS sample_key
        FROM embeddings
        QUALIFY rank <= (SELECT k FROM kp)
        ORDER BY label, rank
    """,
    # bottom-k by md5(doc_id) per source; ties impossible (doc_id
    # unique, hash ties broken by doc_id in the struct sort)
    "smp_reservoir": f"""
        SELECT source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY {sql_md5_int32('CAST(doc_id AS VARCHAR)')}, doc_id
               ) AS INT) AS rank,
               doc_id,
               {sql_md5_int32('CAST(doc_id AS VARCHAR)')} AS sample_key
        FROM documents
        QUALIFY rank <= {RESERVOIR_K}
        ORDER BY source, rank
    """,
    # rate = n/512 terminates within 9 decimals (2^-9), so round(.,9)
    # is exact and the kept SET matches bit-for-bit; 1/rate rounds the
    # same double in both engines
    "smp_importance": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents),
        r AS (
            SELECT doc_id, n_tokens,
                   least(CAST(1 AS DOUBLE),
                         CAST(greatest(n_tokens, 1) AS DOUBLE)
                         / {float(IMPORTANCE_FULL_AT)}) AS rate
            FROM t)
        SELECT doc_id, n_tokens,
               round(rate, 9) AS keep_rate,
               round(CAST(1 AS DOUBLE) / rate, 9) AS ht_weight
        FROM r
        WHERE {_GATE} < round(rate, 9)
        ORDER BY doc_id
    """,
    "smp_stratified": f"""
        WITH kept AS (
            SELECT lang FROM documents WHERE {_GATE} < {_RATE})
        SELECT d.lang, count(*) AS n_total,
               coalesce(k.n_kept, 0) AS n_kept
        FROM documents d
        LEFT JOIN (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang) k
          ON d.lang = k.lang
        GROUP BY d.lang, k.n_kept
        ORDER BY d.lang
    """,
    "smp_stratified_ids": f"""
        SELECT doc_id, lang FROM documents
        WHERE {_GATE} < {_RATE}
        ORDER BY doc_id
    """,
}

def _coreset_oracle() -> str:
    """Unrolled greedy k-center selection in plain SQL: the identical
    CORESET_K - 1 rounds (quantized int64 distances, NOT-IN exclusion,
    max-distance pick with ties to the smallest vec_id), then the same
    dist*K + round argmin assignment for coverage counts."""
    from conduit_spark.analytics.similarity import DIM, KMEANS_SCALE

    K = CORESET_K
    dist = (
        f"list_sum(list_transform(generate_series(1, {DIM}), "
        f"i -> (v.q[i] - ch.q[i]) * (v.q[i] - ch.q[i])))"
    )
    # Every ch{t} is referenced three times (next round's distances,
    # the NOT-IN exclusion, and the next union) — AS MATERIALIZED
    # pins each to one evaluation; plain CTE inlining re-expands the
    # chain exponentially and never finishes at K=8.
    blocks = [
        "v AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}.0) "
        "AS BIGINT)) AS q FROM embeddings)",
        "ch0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS rnd, vec_id, "
        "CAST(0 AS BIGINT) AS d, q FROM v ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(1, K):
        prev = f"ch{t - 1}"
        blocks.append(
            f"d{t} AS (SELECT vec_id, min(dd) AS d FROM "
            f"(SELECT v.vec_id AS vec_id, {dist} AS dd "
            f"FROM v, {prev} ch) dx GROUP BY vec_id)"
        )
        blocks.append(
            f"p{t} AS (SELECT CAST({t} AS BIGINT) AS rnd, d.vec_id, "
            f"d.d, v.q FROM d{t} d JOIN v USING (vec_id) "
            f"WHERE d.vec_id NOT IN (SELECT vec_id FROM {prev}) "
            f"ORDER BY d.d DESC, d.vec_id LIMIT 1)"
        )
        blocks.append(
            f"ch{t} AS MATERIALIZED "
            f"(SELECT * FROM {prev} UNION ALL SELECT * FROM p{t})"
        )
    blocks.append(
        f"a AS (SELECT vec_id, CAST(min(dd * {K} + rnd) % {K} AS BIGINT) "
        f"AS rnd FROM (SELECT v.vec_id AS vec_id, ch.rnd AS rnd, "
        f"{dist} AS dd FROM v, ch{K - 1} ch) ax GROUP BY vec_id)"
    )
    blocks.append(
        "cov AS (SELECT rnd, count(*) AS n_covered FROM a GROUP BY rnd)"
    )
    return (
        "WITH " + ",\n".join(blocks) + f"""
        SELECT ch.rnd AS sel_round, ch.vec_id,
               CAST(ch.d AS BIGINT) AS sel_dist,
               CAST(coalesce(cov.n_covered, 0) AS BIGINT) AS n_covered
        FROM ch{K - 1} ch LEFT JOIN cov USING (rnd)
        ORDER BY sel_round
    """
    )


_DSIR_TGT = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

ORACLES["smp_dsir"] = f"""
    WITH base AS (
        SELECT doc_id, source,
               source IN ({_DSIR_TGT}) AS tgt,
               string_split(text, ' ') AS t
        FROM documents),
    grams AS (
        SELECT doc_id, source, tgt, unnest(t) AS gram FROM base
        UNION ALL
        SELECT doc_id, source, tgt,
               unnest(list_transform(
                   list_zip(t[1:len(t)-1], t[2:len(t)]),
                   z -> z[1] || ' ' || z[2])) AS gram
        FROM base WHERE len(t) >= 2),
    g AS (
        SELECT doc_id, source, tgt,
               {sql_md5_int32('gram')} % {DSIR_BUCKETS} AS b
        FROM grams),
    hist AS (
        SELECT b,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
        FROM g GROUP BY b),
    tots AS (
        SELECT CAST(sum(ct) AS DOUBLE) AS tt,
               CAST(sum(cr) AS DOUBLE) AS tr
        FROM hist),
    lam AS (
        SELECT b,
               ln((CAST(ct AS DOUBLE) + 1.0)
                  / (tots.tt + {float(DSIR_BUCKETS)}))
               - ln((CAST(cr AS DOUBLE) + 1.0)
                    / (tots.tr + {float(DSIR_BUCKETS)})) AS lam
        FROM hist, tots),
    pd AS (
        SELECT doc_id, source, b, count(*) AS n
        FROM g WHERE NOT tgt GROUP BY 1, 2, 3),
    per AS (
        SELECT doc_id, source,
               list_sum(list_transform(
                   list_sort(list(struct_pack(b := pd.b, n := n, lam := lam))),
                   s -> CAST(s.n AS DOUBLE) * s.lam)) AS logw
        FROM pd JOIN lam USING (b)
        GROUP BY 1, 2)
    SELECT doc_id, source,
           round(logw, 6) AS log_weight,
           round(logw + (-ln(-ln(
               (CAST({sql_md5_int32('CAST(doc_id AS VARCHAR)')} AS DOUBLE)
                + 0.5) / {float(_SCALE)}))), 6) AS gumbel_key
    FROM per
    ORDER BY gumbel_key DESC, doc_id ASC
    LIMIT {DSIR_K}
"""

ORACLES["smp_coreset"] = _coreset_oracle()
