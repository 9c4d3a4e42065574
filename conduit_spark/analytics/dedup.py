"""Deduplication operators for training-data pipelines.

Four families, each scale-designed and oracle-checkable:

- **exact**: hash-groupBy on content digest — one shuffle on the
  digest, map-side partial agg.
- **minhash + LSH**: word-shingle → k permutation-min signatures →
  banded bucket keys → candidate pairs via bucket self-join → exact
  Jaccard verify. The classic near-dup pipeline (Broder; used by every
  large-scale corpus dedup) expressed entirely in DataFrame algebra:
  shuffles are (doc→signature groupBy) + (band bucket join) + the
  verify join — all on keys, all AQE-skew-splittable. No pairwise
  O(n²) anywhere.
- **simhash**: per-token 32-bit hash sign-votes → fingerprint;
  equal-fingerprint buckets are dup groups. One explode + one groupBy.
- **n-gram Jaccard**: exact set similarity via shingle-key equi-join —
  the verify stage of minhash used standalone (bounded by shingle
  frequency at scale; pair generation never materializes the cross
  product).

Embedding-cosine near-dup lives in ``similarity`` (shares the LSH
machinery).

Hash parity with DuckDB comes from functions.hashing.md5_int32, so
every stage — signatures, buckets, verified pairs — has an exact SQL
oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark.analytics import combination_pairs, ordered_result
from conduit_spark.plans import iteration_barrier
from conduit_spark.functions.hashing import (
    MINHASH_PRIME,
    md5_int32,
    minhash_params,
    sql_md5_int32,
)
from conduit_spark.sources.tables import load_table

SHINGLE_W = 3  # word-shingle width
MINHASH_K = 12
LSH_BANDS = 4  # 4 bands × 3 rows
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.5
NGRAM_DF_CAP = 100  # max docs a shingle may appear in (join-blowup guard)
MINHASH_BUCKET_CAP = 200  # max docs per (band, bucket) — blowup guard
# Max hot-shingle entries the in-row capped-count fast path may fold
# into a single broadcast array row (r15 guard, VERDICT r14 item 5);
# above this, _capped_shingle_stats falls back to the exploded
# anti-join count whose per-task state is bounded regardless of |hot|.
# 64k int32 entries ≈ 256 KB per executor — comfortably under any
# broadcast/row limit while keeping the per-doc intersect cheap.
HOT_BROADCAST_CAP = 65536
_PARAMS = minhash_params(MINHASH_K)


def d_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: documents grouped by content digest."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .transform(ordered_result, "keep_doc_id")
    )


def word_grams(k: int):
    """Array of word ``k``-grams of ``text``, as one expr.

    The token array is bound ONCE per row by wrapping it in a 1-element
    array and letting the outer ``transform`` lambda capture it —
    Catalyst has no let-binding, and both the per-position
    ``element_at`` chain (r4) and a ``slice(split(...))`` inside the
    gram lambda (r4-r10) re-tokenize the doc once per gram
    (CollapseProject inlines the split into every reference site).
    Measured at sf0.1: element_at chains 4.3s → slice-in-lambda 1.4s →
    bound-once 0.5s for the gram relation (r11, 3× again on the
    hottest scan in the dedup/decontamination family). Caller must
    pre-filter docs with fewer than ``k`` tokens: ``sequence(1, 0)``
    is DESCENDING in Spark.
    """
    return F.expr(
        f"transform(array(split(text, ' ')), toks ->"
        f" transform(sequence(1, size(toks) - {k - 1}),"
        f" i -> array_join(slice(toks, i, {k}), ' ')))[0]"
    )


def _shingles_df(docs: DataFrame) -> DataFrame:
    """doc_id → exploded distinct word shingles, hashed to int32.

    Fully narrow — ZERO shuffles: hash every gram in-row, dedupe with
    ``array_distinct`` on the int32 hashes, then explode. r14 replaced
    the explode + corpus-wide ``.distinct()`` (a full (doc_id, x)
    exchange) with this shape — distinct-per-document IS the semantics,
    so the dedup never needed to leave the row (measured 0.79s → 0.44s
    for the checkpointed relation at sf0.1, byte-identical rows; the
    old ``array_distinct``-on-STRINGS pre-pass the r1 docstring
    rejected was slow because it compared ~30-byte shingles — on int32
    hashes it is cheap).
    """
    n = F.size(F.split(F.col("text"), " "))
    hashes = F.array_distinct(
        F.transform(word_grams(SHINGLE_W), lambda g: md5_int32(g))
    )
    return docs.filter(n >= SHINGLE_W).select(
        "doc_id", F.explode(hashes).alias("x")
    )


def _doc_grams_df(docs: DataFrame) -> DataFrame:
    """doc_id → the in-row ARRAY of distinct int32 shingle hashes —
    the un-exploded sibling of :func:`_shingles_df` (same values: its
    explode IS this array). r14: signatures, per-doc counts and
    pair-verify intersections are all duplicate-insensitive (min /
    size / array_intersect over distinct arrays), so consumers that
    never need the inverted (x → docs) orientation can stay fully
    narrow on this relation instead of shuffling the exploded one."""
    n = F.size(F.split(F.col("text"), " "))
    hashes = F.array_distinct(
        F.transform(word_grams(SHINGLE_W), lambda g: md5_int32(g))
    )
    return docs.filter(n >= SHINGLE_W).select(
        "doc_id", hashes.alias("hs")
    )


def _sig_cols() -> list:
    """The K in-row MinHash signature columns over the ``hs`` array:
    ``h_j = array_min(transform(hs, x -> (a_j*x + b_j) mod P))`` — the
    identical ``(a*x+b) % P`` bigint arithmetic as the historical
    groupBy-min, evaluated per row with ZERO exchange (min over a
    multiset equals min over its distinct support, so ``array_distinct``
    upstream changes nothing)."""
    # r14: each column is ONE parsed SQL string (the lsh_bucket
    # precedent, guide §1.2) — the F.* tree form cost ~10 py4j round
    # trips per column × 12 columns per consumer build (measured
    # 0.23s → 0.05s for the projection build, values bit-identical)
    return [
        F.expr(
            f"array_min(transform(hs, x -> "
            f"({a}L * x + {b}L) % {MINHASH_PRIME}L))"
        ).alias(f"h{j}")
        for j, (a, b) in enumerate(_PARAMS)
    ]


def d_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (the sketch itself).

    h_j = min((a_j * x + b_j) mod P) over shingle hashes x — r14: the
    min folds IN-ROW over each document's distinct-hash array
    (:func:`_doc_grams_df` + :func:`_sig_cols`), so the plan is a
    single narrow projection: no explode, no groupBy(doc_id) exchange.
    Values are identical to the historical exploded groupBy-min.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return ordered_result(
        _doc_grams_df(docs).select("doc_id", *_sig_cols()), "doc_id"
    )


def _band_buckets(sigs: DataFrame) -> DataFrame:
    """Explode signatures into (band_idx, bucket_key) rows. The band
    array is ONE parsed expression (r14, guide §1.2 — same treatment
    as :func:`_sig_cols`); values bit-identical to the F.* tree form."""
    bands = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, concat_ws(':', "
            + ", ".join(
                f"cast(h{b * LSH_ROWS + r} AS string)"
                for r in range(LSH_ROWS)
            )
            + ") AS bucket)"
            for b in range(LSH_BANDS)
        )
        + ")"
    )
    return sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard), unordered.

    Join graph: bucket self-join (equi on band+bucket, a<b) → distinct
    candidate pairs → shingle-join verify. At 100 TB the bucket join
    is the scalable candidate generator (no cross product), and the
    verify join touches only candidates. Buckets larger than
    ``MINHASH_BUCKET_CAP`` are dropped before pairing — a degenerate
    band value shared by k docs would otherwise emit k² candidates in
    one task (the same guard as the simhash/sign-LSH paths).
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # r14: the per-doc distinct-hash ARRAY (not the exploded relation)
    # feeds signature building, per-doc counts and the verify — all
    # three are duplicate-insensitive in-row folds, so the corpus-wide
    # groupBy(doc_id) exchanges of the r1-r13 shapes disappear.
    # localCheckpoint, not persist: CacheManager entries outlive the
    # query (the cur_boilerplate leak class, ADVICE r7) while
    # checkpoint blocks free with the DataFrame
    garr = _doc_grams_df(docs).localCheckpoint()
    sigs = garr.select("doc_id", *_sig_cols())
    # checkpoint the small (doc_id, band, bucket) relation so the
    # hot-bucket agg and both sides of the candidate self-join read the
    # materialization instead of re-running the signature pipeline
    # (self-referencing plans recompute, they don't reuse)
    bb = _band_buckets(sigs).localCheckpoint()
    hot = (
        bb.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MINHASH_BUCKET_CAP)
        .select("band", "bucket")
    )
    bb = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # r14: candidates via ONE groupBy + in-codegen i<j combination
    # explode (the ``_banded_hamming_pairs`` shape) instead of the
    # bucket self-join's two shuffle legs; bucket caps guarantee every
    # collected group ≤ ``MINHASH_BUCKET_CAP``. Candidate set is
    # byte-identical (sorted lists make id_a < id_b by construction).
    cand = combination_pairs(
        bb.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("g"))
        .filter(F.size("g") >= 2),
        "g",
        "id_a",
        "id_b",
    ).distinct()
    # r14 verify: join the candidate pairs to the per-doc hash arrays
    # and intersect IN-ROW — ``size(array_intersect)`` over two
    # distinct arrays equals the historical exploded join-count, and
    # the per-doc sizes ride along, so the two corpus-sized shuffle
    # legs and both count joins collapse into two candidate-keyed
    # joins against the checkpointed array relation.
    ga = garr.select(
        F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a")
    )
    gb = garr.select(
        F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b")
    )
    joined = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
            F.size("hs_a").alias("n_a"),
            F.size("hs_b").alias("n_b"),
        )
    )
    jacc = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return joined.select("id_a", "id_b", F.round(jacc, 9).alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from LSH banding + exact-Jaccard verify."""
    return ordered_result(_lsh_pairs(spark, sf_dir), "id_a", "id_b")


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair relation, materialized ONCE per
    session. Four suite queries sit on top of ``_lsh_pairs``
    (d_dedup_clusters, d_pagerank, d_cluster_prune,
    curation.cur_split_leakage) and in round 6 each re-ran the whole
    shingle→signature→band→verify pipeline — 4 of the 5 slowest gate
    rows shared that one upstream (VERDICT r6 item 4). The pair
    relation is the 4096×-reduced OUTPUT of the pipeline (near-dup
    rate × corpus, not corpus-sized), so it gets the
    ``_materialized_fixture`` treatment: temp-parquet once, every
    consumer reads the materialization. ``d_minhash_lsh_pairs`` stays
    on the live pipeline — it is the timing anchor for the LSH build
    itself. At 100 TB this is exactly the production shape too: a
    curation DAG computes pairs once and fans out to
    cluster/rank/prune/audit consumers, rather than re-shingling the
    corpus per consumer."""
    from conduit_spark.analytics.processor_queries import _materialized_fixture

    return _materialized_fixture(
        "lsh_pairs", spark, sf_dir, lambda: _lsh_pairs(spark, sf_dir)
    )


MAX_CC_ITERS = 25  # min-label propagation rounds (≥ any near-dup cluster diameter)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) undirected pair relation → (node, lbl) where lbl is
    the minimum node id reachable from ``node`` (its component label).

    Iterative min-label propagation: per round one keyed join (edge →
    neighbor label), one groupBy(min), one keyed update — all shuffles
    on node id. ``localCheckpoint`` truncates lineage so the plan stays
    constant-size across rounds; the loop exits when a round changes no
    label (the per-round ``count`` is a scalar aggregate, not a data
    collect). Converges in O(component diameter) rounds.
    """
    # materialize the (small) pair relation once — the symmetric union
    # below references it twice, and without this the upstream pair plan
    # (LSH candidate generation + verify) would evaluate twice
    pairs = pairs.localCheckpoint()
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    try:
        # init = round 0 for free: every node's label starts at
        # min(node, min neighbor) — one aggregation instead of a
        # distinct + a full propagation round
        labels = (
            edges.groupBy(F.col("id_a").alias("node"))
            .agg(F.min("id_b").alias("m"))
            .select("node", F.least(F.col("node"), F.col("m")).alias("lbl"))
            .localCheckpoint()
        )
        for _ in range(MAX_CC_ITERS):
            nbr_min = (
                edges.join(labels, edges.id_b == labels.node)
                .groupBy(F.col("id_a").alias("node2"))
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            cand = labels.join(nbr_min, labels.node == nbr_min.node2).select(
                "node", "lbl", F.least(F.col("lbl"), F.col("nbr_lbl")).alias("cand")
            )
            # pointer jump (label-of-label): cand is itself a node id, so one
            # self-join replaces it with cand's own (≤) label — convergence
            # drops from O(diameter) to O(log diameter) rounds
            lut = cand.select(F.col("node").alias("jn"), F.col("cand").alias("jl"))
            upd = iteration_barrier(
                cand.join(lut, cand.cand == lut.jn).select(
                    "node", "lbl", F.col("jl").alias("new_lbl")
                )
            )  # in-loop truncation: `cand` is referenced twice, so an
            # unpinned tree doubles per round — exempt from the audit's
            # barriers_disabled (plans.iteration_barrier docstring)
            # count runs on the checkpointed frame — no recompute, no extra join
            changed = upd.filter(F.col("new_lbl") != F.col("lbl")).count()
            labels = upd.select("node", F.col("new_lbl").alias("lbl"))
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels



PAGERANK_ITERS = 3
PAGERANK_D = 0.85  # damping


def d_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-dup graph — the canonicality
    score dedup pipelines use to pick the best cluster representative
    (the most-connected near-duplicate, not just the lowest id).
    ``PAGERANK_ITERS`` unrolled power iterations, damping 0.85, over
    the symmetric edge relation; isolated documents keep the teleport
    mass.

    Exactness: each node's incoming contributions fold in
    source-sorted order (the ``t_unigram_logprob`` trick), so both
    engines sum identical doubles in identical order. Scale shape:
    per iteration one keyed agg over edges joined to the rank relation
    — rank state lives on executors keyed by node, never the driver;
    at 10^9 nodes this is the standard Pregel-free DataFrame PageRank.
    """
    pairs = lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionAll(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    nodes = (
        edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    n_nodes = nodes.count()  # scalar driver state, like k-means centroids
    if n_nodes == 0:
        # no near-dup pairs at all → empty result, not a divide-by-zero
        return pairs.sparkSession.createDataFrame(
            [], "doc_id bigint, pagerank double"
        )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (1.0 - PAGERANK_D) / n_nodes
    rank = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    # r15: the power iterations materialize eagerly (per-round
    # localCheckpoint), and each round's exchanges carry the node-sized
    # rank relation — on the 4096x-reduced near-dup graph AQE's
    # per-stage jobs triple the round's job count for nothing. Gated on
    # the known n_nodes so a billion-node graph keeps AQE skew/coalesce
    # handling on the edge⋈rank join.
    from conduit_spark.analytics import tiny_loop_aqe_off

    with tiny_loop_aqe_off(pairs.sparkSession, n_rows=n_nodes):
        for _ in range(PAGERANK_ITERS):
            contrib = (
                edges.join(rank, edges.src == rank.node)
                .join(outdeg, "src")
                .select(
                    "dst",
                    "src",
                    (F.col("r") / F.col("deg").cast("double")).alias("c"),
                )
            )
            summed = contrib.groupBy("dst").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("src", "c"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["c"],
                ).alias("s")
            )
            # checkpoint per iteration: the rank relation is node-sized
            # (the 4096x-reduced output of the LSH pipeline), and without
            # the cut each iteration's plan re-nests the previous one —
            # Catalyst analysis triples while the data stays tiny
            rank = nodes.join(
                summed, nodes.node == summed.dst, "left"
            ).select(
                "node",
                (
                    F.lit(base)
                    + F.lit(PAGERANK_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            ).localCheckpoint()
    return ordered_result(
        rank.select(
            F.col("node").alias("doc_id"), F.round("r", 9).alias("pagerank")
        ),
        F.desc("pagerank"),
        F.asc("doc_id"),
    )


def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: connected components over the verified
    near-dup pair graph, labeling every clustered doc with the minimum
    doc_id in its component (the canonical representative a corpus
    pipeline would keep).

    Spark-first shape: iterative min-label propagation — per round one
    keyed join (edge → neighbor label) + one groupBy(min) + one keyed
    label update, all shuffles on doc_id. ``localCheckpoint`` truncates
    lineage each round so the plan stays constant-size. Convergence in
    O(component diameter) rounds; near-dup components are shallow
    (chains of mutually-similar docs), and the loop exits as soon as a
    round changes nothing — the per-round ``count`` is a scalar
    aggregate, not a data collect. At 10⁹+ nodes swap the propagation
    loop for alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce"), which
    converges in O(log n) rounds with the same per-round plan shape.
    """
    pairs = lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    sizes = labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, labels.lbl == sizes.cluster_id)
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        )
        .transform(ordered_result, "doc_id")
    )


def d_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME: apply the near-dup clusters — every
    non-canonical cluster member is pruned, the kept corpus is the
    canonical representatives plus all unclustered docs — and report
    the per-source attrition (the number a curation run logs before
    writing shards).

    Plan shape: the pruned relation is ONLY the clustered non-minimum
    docs (tiny relative to the corpus — near-dup rate, not corpus
    size), so the apply step is a left join of the corpus against a
    broadcastable id list followed by one keyed count; nothing
    shuffles the corpus beyond the final per-source agg. At 100 TB
    the same plan holds with a hashed left-semi/anti join when the
    pruned list outgrows broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_pairs_cached(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    pruned = (
        labels.filter(F.col("node") != F.col("lbl"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("is_pruned"))
    )
    return (
        docs.join(F.broadcast(pruned), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_pruned").alias("n_pruned"),
            (F.count(F.lit(1)) - F.count("is_pruned")).alias("n_kept"),
        )
        .transform(ordered_result, "source")
    )


def _capped_shingle_stats(docs: DataFrame):
    """``(counts, inter, sh_cache)`` over the DF-capped shingle space —
    callers MUST ``sh_cache.unpersist()`` once their result is
    materialized, and in a ``finally`` (both consumers do, right after
    ``ordered_result``'s eager checkpoint; the helper releases it
    itself if it fails before returning) —
    the shared engine of :func:`d_ngram_jaccard` and
    :func:`d_containment_pairs` (r14 restructure, guide §2.4 + the
    ``_banded_hamming_pairs`` precedent measured 2.0→1.1s in r12):

    - ``grouped``: per shingle hash the SORTED doc list (one
      groupBy(x), checkpointed once). The hot-shingle cap is still
      enforced by a slim COUNT aggregation + broadcast anti-join
      BEFORE any group materializes — a boilerplate shingle in 10⁶
      docs must never reach collect_list.
    - ``counts``: per-doc capped shingle count — IN-ROW (r14 batch 2):
      ``size(hs) - |hs ∩ hot|`` over the per-doc distinct-hash array,
      with the (tiny) hot-shingle list attached as one broadcast array
      row. Equal by construction to counting the post-anti-join
      exploded rows, with no second corpus exchange. Guarded (r15):
      when |hot| > ``HOT_BROADCAST_CAP`` the single-array-row shape is
      abandoned for the exploded anti-join count (see inline note).
    - ``inter``: per-pair intersection counts from an in-codegen i<j
      combination explode over each (≤ cap)-sized doc list — replacing
      the r13 shingle self-join, whose TWO shuffle legs over the
      shingle relation plus a second corpus-sized checkpoint were the
      dominant cost. Pair keys come out pre-ordered (id_a < id_b from
      the sorted list), identical to the join's ``a.doc_id <
      b.doc_id`` predicate. With ``counts`` in-row, ``grouped`` has a
      single consumer and needs no checkpoint of its own.
    """
    garr = _doc_grams_df(docs).localCheckpoint()
    # r15: ONE explode, ONE exchange over the gram relation. The r14
    # shape exploded ``garr`` twice — once under the hot-count
    # aggregation, once under ``grouped`` — and each pass paid the
    # explode plus a high-cardinality hash aggregation (profiled at
    # 11.6 + 13.6 core-s, the query's two dominant stages). The
    # exploded relation is now hash-repartitioned by shingle ONCE and
    # cached; a cached repartition PRESERVES its output partitioning
    # (unlike localCheckpoint), so both the hot count and the
    # collect_list grouping aggregate in place with no further
    # exchange and no second explode. The repartition width is left to
    # AQE (the explicit-width variant measured slower at fixture scale
    # and a constant would be wrong at cluster scale). Cache posture:
    # MEMORY_AND_DISK of the same bytes the r14 shape wrote through
    # its second exchange; the bench frees the blocks synchronously
    # after each run and other consumers free via the ContextCleaner.
    # Same-window A/B d_containment_pairs 2.35 -> 1.85s, rows
    # identical; hot keeps its eager checkpoint (two consumers).
    raw_sh = (
        garr.select("doc_id", F.explode("hs").alias("x"))
        .repartition("x")
        .persist()
    )
    try:
        hot = (
            raw_sh.groupBy("x")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > NGRAM_DF_CAP)
            .select("x")
            .localCheckpoint()
        )
        # r15 scale guard (VERDICT r14 item 5 / ADVICE r14): the in-row
        # ``size(hs) − |hs ∩ hot|`` fast path folds the ENTIRE hot-shingle
        # list into one broadcast array row — fine while |hot| is small
        # (at any SF of this corpus it is tens of rows), but on a
        # boilerplate-heavy corpus the hot set grows ∝ corpus/cap and a
        # single million-entry array row plus an O(|hot|)-per-document
        # in-row intersect is the wrong shape. ``hot`` is already
        # materialized (eager localCheckpoint above), so sizing it is one
        # tiny job over checkpoint blocks; above the cap, fall back to the
        # exploded anti-join + groupBy(doc_id) count — the pre-r14 shape
        # whose per-task state is bounded regardless of |hot| — and let
        # the planner pick the anti-join strategy instead of forcing a
        # broadcast build of an oversized hot relation. Equivalent by
        # construction: both count each document's non-hot distinct
        # shingles, and a document with ZERO surviving shingles can never
        # appear in ``inter`` (no shared shingle survives), so its missing
        # count row is unobservable through the inner joins both consumers
        # use.
        hot_is_small = hot.count() <= HOT_BROADCAST_CAP
        hot_b = F.broadcast(hot) if hot_is_small else hot
        grouped = (
            raw_sh.join(hot_b, "x", "left_anti")
            .groupBy("x")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("g"))
        )
        if hot_is_small:
            hot_arr = hot.agg(F.collect_list("x").alias("hot"))
            counts = garr.crossJoin(F.broadcast(hot_arr)).select(
                "doc_id",
                (
                    F.size("hs") - F.size(F.array_intersect("hs", "hot"))
                ).cast("bigint").alias("n"),
            )
        else:
            counts = (
                raw_sh.join(hot_b, "x", "left_anti")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )
        inter = (
            combination_pairs(
                grouped.filter(F.size("g") >= 2), "g", "id_a", "id_b"
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    except BaseException:
        raw_sh.unpersist()  # the caller never receives it
        raise
    return counts, inter, raw_sh


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1
    shingle (the standalone verify stage).

    A shingle appearing in F documents contributes F² rows to the
    pair join, so one boilerplate sentence at corpus scale is a
    single-key shuffle explosion AQE can't split. Standard near-dup
    practice (and the round-1 verdict fix): cap shingle document
    frequency — shingles in more than ``NGRAM_DF_CAP`` docs carry no
    discriminating signal and are dropped from the shingle space
    (both intersection AND doc sizes, keeping Jaccard consistent).
    The hot-shingle list is tiny, so it broadcasts into an anti-join
    — no extra shuffle on the big relation. Pair generation is the
    shared :func:`_capped_shingle_stats` group-and-combine shape (r14)
    — no shingle self-join."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    counts, inter, sh_cache = _capped_shingle_stats(docs)
    try:
        joined = (
            inter.join(counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
            .join(counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        )
        jacc = F.col("n_inter").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_inter")
        ).cast("double")
        return (
            joined.select(
                "id_a",
                "id_b",
                F.round(jacc, 9).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.05)
            .transform(ordered_result, "id_a", "id_b")
        )
    finally:
        # ordered_result materialized the result eagerly (or raised),
        # so release the shingle cache NOW rather than pin a
        # corpus-gram-sized CacheManager entry for the session (the
        # ADVICE-r7 leak class). Under a plan audit the sort is lazy
        # and a re-execution merely recomputes the cache.
        sh_cache.unpersist()


# Asymmetric containment threshold: c(A,B) = |S_A ∩ S_B| / |S_A| (Broder's
# containment measure). 0.5 = "half of the smaller doc's shingles appear
# in the other" — the doc-in-doc band where Jaccard goes blind (a short
# doc fully quoted inside a long one has tiny Jaccard but containment 1).
CONTAIN_MIN = 0.5


def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs — the decontamination metric
    of the big-LM training reports (13-gram containment in the GPT-3 /
    PaLM eval-leakage methodology; reference scope: the dedup family of
    SURVEY §2's training-data operators, round 9 addition).

    Jaccard punishes size mismatch: a 50-word doc quoted verbatim
    inside a 5000-word doc has Jaccard ≈ 0.01 but containment 1.0 in
    the short→long direction. Emits both directions per unordered pair
    (``cont_a_in_b`` = n_inter/|S_A|, ``cont_b_in_a`` = n_inter/|S_B|)
    where either ≥ ``CONTAIN_MIN``.

    Scale shape is d_ngram_jaccard's, unchanged: DF-capped shingle
    space (hot boilerplate shingles broadcast into an anti-join, never
    F² pair rows), the shared :func:`_capped_shingle_stats`
    group-and-combine pair generation (r14 — no shingle self-join),
    two broadcast-sized count joins. The only delta is the final ratio
    arithmetic — containment adds no new shuffle."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    counts, inter, sh_cache = _capped_shingle_stats(docs)
    try:
        joined = inter.join(
            counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"),
            "id_a",
        ).join(
            counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"),
            "id_b",
        )
        c_ab = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
        c_ba = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
        return (
            joined.filter(F.greatest(c_ab, c_ba) >= CONTAIN_MIN)
            .select(
                "id_a",
                "id_b",
                F.round(c_ab, 9).alias("cont_a_in_b"),
                F.round(c_ba, 9).alias("cont_b_in_a"),
            )
            .transform(ordered_result, "id_a", "id_b")
        )
    finally:
        sh_cache.unpersist()  # see d_ngram_jaccard — freed post-materialization


def d_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the banded-LSH candidate generator against
    EXACT n-gram Jaccard ground truth — the dedup analog of
    ``s_ivf_recall`` (reference scope: the dedup family of SURVEY §2's
    training-data operators; round-10 addition). Banding + hot-bucket
    caps are the approximations that make minhash dedup scale; this
    operator MEASURES what they cost instead of asserting it: one row
    per ground-truth near-dup pair (exact Jaccard ≥
    ``JACCARD_THRESHOLD`` on the DF-capped shingle space, the same
    space every exact pipeline here uses) with a flag for whether the
    production LSH path (:func:`d_minhash_lsh_pairs`' banding →
    bucket-cap → verify chain) surfaced it. A missed pair is a
    banding false-negative (no band fully agrees), a hot-bucket-cap
    casualty, or a threshold-space mismatch — the LSH verify stage
    scores Jaccard on the RAW shingle space while the exact truth here
    uses the DF-capped space every exact pipeline shares, so a pair
    whose capped Jaccard clears the threshold but whose raw Jaccard
    does not counts as missed even when banding surfaced the
    candidate. All three causes are invisible to the LSH path itself;
    the third is a property of the two spaces, not of any banding
    parameter.

    Scale: BOTH legs read session-materialized pair relations —
    ``d_ngram_jaccard``'s DF-capped exact pairs (the expensive leg,
    materialized once like ``lsh_pairs_cached`` since the curation DAG
    already computes it; the live pipeline stays ``d_ngram_jaccard``'s
    own timing anchor) and the LSH pair relation. The final join is
    near-dup-rate-sized on both sides — tiny relative to the corpus.
    At 100 TB the same audit runs on a SAMPLE of the corpus (the
    truth side is the expensive leg, exactly like IVF recall audits
    sample queries)."""
    from conduit_spark.analytics.processor_queries import (
        _materialized_fixture,
    )

    truth = _materialized_fixture(
        "ngram_jaccard_pairs",
        spark,
        sf_dir,
        lambda: d_ngram_jaccard(spark, sf_dir),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    found = (
        lsh_pairs_cached(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("found_by_lsh", F.lit(True))
    )
    return (
        truth.join(found, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.coalesce(F.col("found_by_lsh"), F.lit(False)).alias(
                "found_by_lsh"
            ),
        )
        .transform(ordered_result, "id_a", "id_b")
    )


def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (token-frequency weighted).

    explode(tokens) → one groupBy(doc_id) with 32 sign-vote sums →
    fingerprint assembly. Constant state per doc; single shuffle.
    """
    return ordered_result(
        _simhash_fps(load_table(spark, sf_dir, "documents", fanout=True)),
        "doc_id",
    )


def _simhash_fps(docs: DataFrame) -> DataFrame:
    """The unordered (doc_id, simhash) relation — shared by the
    fingerprint query (which adds the presentation sort) and the pairs
    query (which needs no order and, before r14, paid the sort plus a
    second checkpoint anyway)."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).withColumn("h", md5_int32(F.col("token")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.alias("simhash"))


SIMHASH_BANDS = 4  # 8 bits per band; near-dups must share ≥1 full band
SIMHASH_MAX_HAMMING = 6
SIMHASH_BUCKET_CAP = 200  # max docs per (band, bucket) — blowup guard


def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of four
    8-bit bands of the 32-bit fingerprint (the pigeonhole guarantee:
    hamming ≤ 3 implies a shared band; we verify up to
    ``SIMHASH_MAX_HAMMING`` to keep recall meaningful on this corpus),
    verified with ``bit_count(xor)``.

    The classic Manku/Jain/Sarma web-dedup pipeline: band equi-join
    for candidates (never all-pairs), O(1) verify per candidate. The
    fingerprint relation is tiny (doc_id, int64) — checkpointed so the
    32-vote aggregation runs once, not once per band reference.
    Buckets larger than ``SIMHASH_BUCKET_CAP`` are dropped before
    pairing (an overfull 8-bit band carries no discriminating signal —
    the same guard as the minhash/sign-LSH paths); at corpus scale use
    a 64-bit fingerprint with 16-bit bands so bucket cardinality
    scales, keeping this plan shape unchanged.
    """
    fps = _simhash_fps(
        load_table(spark, sf_dir, "documents", fanout=True)
    ).localCheckpoint()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 8)
                .bitwiseAND(F.lit(255))
                .alias("bucket"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bb = fps.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    hot = (
        bb.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > SIMHASH_BUCKET_CAP)
        .select("band", "bucket")
    )
    bb = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # r14: pair generation via ONE groupBy + in-codegen i<j combination
    # explode (the ``_banded_hamming_pairs`` shape) instead of the
    # bucket self-join's two shuffle legs; the O(1) hamming verify runs
    # BEFORE the distinct so the dedup shuffle carries only verified
    # near-dups. Bucket caps guarantee every collected group ≤
    # ``SIMHASH_BUCKET_CAP``; output rows are byte-identical.
    grouped = (
        bb.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("g")
        )
        .filter(F.size("g") >= 2)
    )
    pairs = combination_pairs(grouped, "g", "a", "b").select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        .cast("bigint")
        .alias("hamming"),
    )
    return (
        pairs.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .transform(ordered_result, "id_a", "id_b")
    )


CONTAM_MOD = 11  # doc_id % MOD == 0 → "benchmark" membership
CONTAM_K = 4  # word n-gram width for overlap detection


def d_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document,
    the fraction of its distinct word ``CONTAM_K``-grams that appear
    anywhere in the held-out "benchmark" slice (docs with
    ``doc_id % CONTAM_MOD == 0``) — the decontamination pass every
    LLM data pipeline runs before training (GPT-3 App. C / Dolma
    style n-gram overlap).

    Plan shape: one narrow explode to a hashed (doc_id, gram) relation
    (md5_int32 keeps it 16 bytes/row and oracle-reproducible),
    materialized once and reused by all three consumers (benchmark
    side, totals, match join). Candidate matching is a left-semi
    equi-join on the gram hash — never a cross product; the benchmark
    relation is distinct-hashed and Zipf-small, so at cluster scale
    AQE broadcasts it. Only contaminated docs are emitted.
    """
    docs = load_table(spark, sf_dir, "documents")
    return ordered_result(
        _contamination_from_grams(contam_grams_cached(spark, sf_dir)),
        "doc_id",
    )


def contam_grams_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed ``(doc_id, gram-hash)`` relation underneath every
    decontamination consumer, materialized ONCE per session (VERDICT
    r10 item 5: d_contamination and cur_funnel each re-built it per
    run — the two largest absolute constants in the suite). Same
    rationale as :func:`lsh_pairs_cached`: at 100 TB the production
    decontamination service computes the gram index once per corpus
    snapshot and fans out to score/funnel/audit consumers."""
    from conduit_spark.analytics.processor_queries import _materialized_fixture

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fanout=True)
        n = F.size(F.split(F.col("text"), " "))
        hashes = F.array_distinct(
            F.transform(word_grams(CONTAM_K), lambda g: md5_int32(g))
        )  # in-row hash-level dedup — zero shuffles (the _shingles_df
        # r14 shape); per-doc distinct IS the semantics
        return docs.filter(n >= CONTAM_K).select(
            "doc_id", F.explode(hashes).alias("x")
        )

    return _materialized_fixture("contam_grams", spark, sf_dir, build)


def contamination_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_matched, contamination_frac) for every
    non-benchmark doc sharing at least one ``CONTAM_K``-gram with the
    benchmark slice. See :func:`d_contamination` for the plan shape;
    callers with a session (d_contamination, cur_funnel) should prefer
    ``_contamination_from_grams(contam_grams_cached(...))`` so the
    gram relation materializes once."""
    n = F.size(F.split(F.col("text"), " "))
    rel = docs.filter(n >= CONTAM_K).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_grams(CONTAM_K), lambda g: md5_int32(g))
            )
        ).alias("x"),  # in-row hash-level dedup — zero shuffles
    ).localCheckpoint()
    return _contamination_from_grams(rel)


def _contamination_from_grams(rel: DataFrame) -> DataFrame:
    """Score computation over a prebuilt hashed-gram relation.

    r15 (guide §2.4): totals and matches come from ONE pass. The old
    shape ran the non-benchmark gram relation through TWO subtrees — a
    left-semi join + count for ``n_matched`` and a separate
    groupBy(doc_id) count for ``n_grams`` — then joined the two
    doc-keyed aggregates back together (two corpus-gram passes, three
    exchanges, one join). Because the benchmark side is DISTINCT on
    ``x``, a plain left join preserves the gram relation's row count
    exactly (at most one match per row), so one join + one aggregation
    computes both counts: ``count(*)`` = n_grams, ``count(match
    marker)`` = n_matched, and the old inner join's "only docs with at
    least one matched gram" contract becomes ``n_matched >= 1``.
    Identical rows by construction; the benchmark relation stays
    Zipf-small so the planner broadcasts it at any corpus scale."""
    bench = (
        rel.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select("x")
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    nonb = rel.filter(F.col("doc_id") % CONTAM_MOD != 0)
    return (
        nonb.join(bench, "x", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__m").alias("n_matched"),
        )
        .filter(F.col("n_matched") >= 1)
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            F.round(
                F.col("n_matched").cast("double")
                / F.col("n_grams").cast("double"),
                9,
            ).alias("contamination_frac"),
        )
    )


# --- corpus-wide span dedup (C4 §3.1 / Dolma-style) ------------------

SPAN_W = 10  # words per non-overlapping span
# (doc_id, span_idx) packed into one bigint for an exact cross-engine
# "first occurrence" min. 24 bits of span_idx = 16M spans = 160M words
# per document (far beyond any real corpus doc); doc_id then has 39
# bits (550B documents) before the packing overflows int64.
_SPAN_ENC = 1 << 24


def d_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact span dedup: split every document into
    non-overlapping ``SPAN_W``-word spans, keep each distinct span only
    at its first occurrence (smallest ``(doc_id, span_idx)``) and count
    the rest as removable duplicates — C4's "three-sentence span"
    dedup re-expressed for whitespace corpora.

    Scale shape: spans are a narrow ``posexplode``; the winner per
    span-hash is a keyed ``min`` with map-side partial aggregation —
    deliberately NOT a window over the hash: a window funnels every
    occurrence of a viral span into one task, while partial aggs crush
    hot keys before the shuffle. One agg shuffle + one equi-join back
    on the uniform hash + one per-doc agg. No O(n²) state.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # token array bound once per row via the 1-element-array lambda
    # capture (see word_grams) — split() evaluates once per doc, not
    # once per span
    spans = F.expr(
        f"transform(array(split(text, ' ')), toks ->"
        f" transform(sequence(1, size(toks) div {SPAN_W}),"
        f" j -> array_join(slice(toks, (j - 1) * {SPAN_W} + 1,"
        f" {SPAN_W}), ' ')))[0]"
    )
    occ = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= SPAN_W)
        .select("doc_id", F.posexplode(spans).alias("span_idx", "span"))
        .select(
            "doc_id",
            "span_idx",
            md5_int32(F.col("span")).alias("h"),
            (F.col("doc_id") * _SPAN_ENC + F.col("span_idx")).alias("occ_key"),
        )
        .localCheckpoint()  # feeds the winner agg AND the join back
    )
    winners = occ.groupBy("h").agg(F.min("occ_key").alias("win_key"))
    return (
        occ.join(winners, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("occ_key") != F.col("win_key"), 1).otherwise(0)
            ).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.col("n_dup_spans").cast("bigint").alias("n_dup_spans"),
            (F.col("n_spans") - F.col("n_dup_spans"))
            .cast("bigint")
            .alias("n_kept_spans"),
        )
        .transform(ordered_result, "doc_id")
    )



# Incremental dedup: the production shape for continuously-ingested
# crawls — a NEW batch is deduped against the EXISTING corpus without
# ever re-pairing the existing corpus with itself. The batch membership
# gate is the shared md5 hash (deterministic, SQL-mirrorable).
INCR_BATCH_MOD = 10  # ~1/10 of the corpus arrives as the "new batch"


def _is_new():
    return (md5_int32(F.col("doc_id")) % INCR_BATCH_MOD) == 0


def d_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per new-batch document verdict against the existing corpus:
    ``exact_dup`` (text hash already present), ``near_dup`` (verified
    MinHash-LSH Jaccard >= threshold vs an existing doc), else
    ``unique`` — with the best existing match id (exact wins; near-dup
    ties break to max Jaccard then min existing id).

    The scale property this query exists to pin: candidate generation
    joins NEW band-buckets against EXISTING band-buckets only — the
    existing corpus is never self-paired, so a daily batch costs
    O(batch x bucket-collisions), not O(corpus^2) (the reason
    incremental pipelines don't re-run ``d_minhash_lsh_pairs`` on the
    union). Hot buckets are capped by the EXISTING side's occupancy
    (viral boilerplate lives in the corpus, not the batch). Shingles
    are computed once for both roles (persisted); every join is keyed;
    exact dedup is one hash equi-join.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # r15: the exact-dup leg reads the UNFANNED scan — md5-per-doc is
    # light, so the fanout's round-robin exchange (one per leg: the
    # old-side groupBy and the new-side projection each re-ran
    # scan+sort+shuffle) was pure overhead on this branch. The
    # gram/signature legs below keep the fanned scan — their per-row
    # compute is what fanout exists for. Same-window A/B of the leg:
    # 0.69-0.91s -> 0.34-0.47s, rows identical. At cluster scale the
    # fanout helper is a no-op for well-split files either way.
    docs_slim = load_table(spark, sf_dir, "documents")
    flagged = docs_slim.select("doc_id", "text", _is_new().alias("is_new"))
    new_ids = flagged.filter(F.col("is_new")).select("doc_id")
    old_hash = (
        flagged.filter(~F.col("is_new"))
        .groupBy(F.md5(F.col("text")).alias("th"))
        .agg(F.min("doc_id").alias("exact_match_id"))
    )
    exact = (
        flagged.filter(F.col("is_new"))
        .select("doc_id", F.md5(F.col("text")).alias("th"))
        .join(old_hash, "th")
        .select("doc_id", "exact_match_id")
    )
    # both roles read the same relation; localCheckpoint (not
    # persist) so the blocks free with the DataFrame. r14: per-doc
    # distinct-hash ARRAYS — signatures, counts and the verify are all
    # in-row folds (see :func:`_doc_grams_df`), no groupBy(doc_id).
    garr = _doc_grams_df(docs).localCheckpoint()
    sigs = garr.select("doc_id", *_sig_cols())
    bb = _band_buckets(sigs).withColumn("is_new", _is_new()).localCheckpoint()
    hot = (
        bb.filter(~F.col("is_new"))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MINHASH_BUCKET_CAP)
        .select("band", "bucket")
    )
    bb = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # r15 (ADVICE r14): the r14 shape collect_list'ed the WHOLE bucket
    # membership (new + old) into one array row, but the occupancy cap
    # above filters on the EXISTING side only — a new-heavy bucket
    # (e.g. a batch full of identical boilerplate) materialized an
    # unbounded array in a single row. Now only the OLD members are
    # grouped into arrays — each group is ≤ ``MINHASH_BUCKET_CAP`` BY
    # the cap just applied — and the new docs stay row-shaped, joining
    # the old-array relation on the bucket key (the groupBy's own
    # partitioning, so the grouped side needs no second exchange).
    # Candidate set is identical: per bucket, every (new × old) pair;
    # new-only buckets drop out of the inner join exactly as the
    # empty-filter explode dropped them.
    old_arr = (
        bb.filter(~F.col("is_new"))
        .groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("olds"))
    )
    cand = (
        bb.filter(F.col("is_new"))
        .join(old_arr, ["band", "bucket"])
        .select(
            F.col("doc_id").alias("id_new"),
            F.explode("olds").alias("id_old"),
        )
        .distinct()
    )
    # r14 verify: candidate-keyed joins against the per-doc hash
    # arrays, intersection + both sizes computed in-row — the two
    # corpus-sized (doc_id, x) shuffle legs and both count joins of
    # the r13 shape collapse away (same shape as ``_lsh_pairs``).
    jacc = F.col("ni").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("ni")
    ).cast("double")
    ver = (
        cand.join(
            garr.select(
                F.col("doc_id").alias("id_new"), F.col("hs").alias("hs_n")
            ),
            "id_new",
        )
        .join(
            garr.select(
                F.col("doc_id").alias("id_old"), F.col("hs").alias("hs_o")
            ),
            "id_old",
        )
        .select(
            "id_new",
            "id_old",
            F.size(F.array_intersect("hs_n", "hs_o")).alias("ni"),
            F.size("hs_n").alias("n_a"),
            F.size("hs_o").alias("n_b"),
        )
        .select("id_new", "id_old", F.round(jacc, 9).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # best match = ONE max(struct) agg (r14 session 3, guide §2.4 —
    # the smp_coreset keyed-argmax shape): struct comparison is
    # lexicographic, so max(jaccard, -id_old) picks the max Jaccard
    # with ties to the min existing id — identical to the former
    # max-agg + self-join + filter + re-agg (2 exchanges + a join
    # fewer)
    best = (
        ver.groupBy("id_new")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("id_old")).alias("nio")
                )
            ).alias("s")
        )
        .select(
            F.col("id_new").alias("doc_id"),
            (-F.col("s.nio")).alias("near_match_id"),
            F.col("s.jaccard").alias("near_jaccard"),
        )
    )
    return (
        new_ids.join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            # -1 sentinels instead of NULLs: a NULL numeric column
            # round-trips as NaN through pandas-based oracle harnesses
            F.coalesce(
                F.col("exact_match_id"), F.col("near_match_id"), F.lit(-1)
            )
            .cast("bigint")
            .alias("match_id"),
            F.coalesce(
                F.when(F.col("exact_match_id").isNull(), F.col("near_jaccard")),
                F.lit(-1.0),
            ).alias("jaccard"),
        )
        .transform(ordered_result, "doc_id")
    )


# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): any >=SUB_W-token run appearing more
# than once ANYWHERE in the corpus is duplicated text. The paper builds
# a corpus-wide suffix array; the Spark-native equivalent is sliding
# SUB_W-gram fingerprints — a duplicated maximal substring of length
# L >= SUB_W is exactly a run of L-SUB_W+1 consecutive duplicated
# grams, so merging adjacent duplicated gram positions recovers the
# paper's maximal spans without any suffix-array global state.
SUB_W = 16  # minimum duplicated run, in tokens (the paper uses 50 at web scale)


def d_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring report: how many tokens sit
    inside >=SUB_W-token runs that occur >=2 times corpus-wide, merged
    into maximal spans — the Lee et al. exact-substring dedup signal
    (C4-style ``d_span_dedup`` only sees aligned non-overlapping spans;
    this sees EVERY duplicated window, at any offset).

    Scale shape: sliding grams are one narrow ``posexplode`` hashed
    immediately (the (doc_id, pos, hash) relation is checkpointed once
    — it feeds the corpus count AND the join back); duplicated-gram
    detection is a keyed count with map-side partials (never a window
    over the hash — viral boilerplate grams would funnel one task);
    span merging is a per-document sorted-array fold over positions
    (bounded by doc token count, zero extra shuffle): with sorted
    starts ``js``, consecutive gaps > SUB_W open a new span and union
    coverage adds ``min(SUB_W, gap)`` per step — pure integer algebra,
    bit-identical in SQL.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # a projected `t = split(text)` column gets INLINED back into every
    # lambda reference by CollapseProject — bind the token array once
    # per row via the 1-element-array lambda capture instead (the
    # word_grams trick; ~20% on this scan at sf0.1)
    base = docs.filter(F.size(F.split(F.col("text"), " ")) >= SUB_W)
    grams = F.expr(
        f"transform(array(split(text, ' ')), t ->"
        f" transform(sequence(1, size(t) - {SUB_W} + 1),"
        f" j -> array_join(slice(t, j, {SUB_W}), ' ')))[0]"
    )
    tn = base.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    occ = (
        base.select("doc_id", F.posexplode(grams).alias("j", "gram"))
        .select("doc_id", "j", md5_int32(F.col("gram")).alias("h"))
        .localCheckpoint()  # feeds the corpus count AND the join back
    )
    dup_h = occ.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    )
    per = (
        occ.join(dup_h.select("h"), "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.array_sort(F.collect_list("j")).alias("js"),
        )
    )
    diffs = F.zip_with(
        F.expr("slice(js, 1, size(js) - 1)"),
        F.expr("slice(js, 2, size(js) - 1)"),
        lambda a, b: b - a,
    )
    stats = per.select(
        "doc_id",
        F.col("n_dup_grams").cast("bigint").alias("n_dup_grams"),
        (
            1
            + F.size(F.filter(diffs, lambda d: d > F.lit(SUB_W)))
        ).cast("bigint").alias("n_dup_spans"),
        (
            F.lit(SUB_W)
            + F.coalesce(
                F.aggregate(
                    diffs,
                    F.lit(0),
                    lambda acc, d: acc + F.least(F.lit(SUB_W), d),
                ),
                F.lit(0),
            )
        ).cast("bigint").alias("n_dup_tokens"),
    )
    return (
        tn.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                9,
            ).alias("dup_frac"),
        )
        .transform(ordered_result, "doc_id")
    )


def _pagerank_sql() -> str:
    iters = []
    for t in range(PAGERANK_ITERS):
        iters.append(f"""
        c{t} AS (
            SELECT e.dst, e.src, r.r / CAST(o.deg AS DOUBLE) AS c
            FROM edges e
            JOIN r{t} r ON e.src = r.node
            JOIN outdeg o ON e.src = o.src),
        s{t} AS (
            SELECT dst,
                   list_sum(list_transform(
                       list_sort(list(struct_pack(src := src, c := c))),
                       x -> x.c)) AS s
            FROM c{t} GROUP BY dst),
        r{t + 1} AS (
            SELECT n.node,
                   (CAST(1.0 AS DOUBLE) - CAST({PAGERANK_D} AS DOUBLE))
                       / (SELECT n FROM nn)
                   + CAST({PAGERANK_D} AS DOUBLE) * coalesce(s.s, 0.0) AS r
            FROM nodes n LEFT JOIN s{t} s ON n.node = s.dst)""")
    return f"""
        WITH {_LSH_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM lsh_pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM lsh_pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        r0 AS (
            SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
            FROM nodes),{",".join(iters)}
        SELECT node AS doc_id, round(r, 9) AS pagerank
        FROM r{PAGERANK_ITERS}
        ORDER BY pagerank DESC, doc_id ASC
    """


QUERIES = {
    "d_exact": d_exact,
    "d_contamination": d_contamination,
    "d_span_dedup": d_span_dedup,
    "d_substring_dedup": d_substring_dedup,
    "d_incremental": d_incremental,
    "d_minhash_signatures": d_minhash_signatures,
    "d_minhash_lsh_pairs": d_minhash_lsh_pairs,
    "d_dedup_clusters": d_dedup_clusters,
    "d_pagerank": d_pagerank,
    "d_cluster_prune": d_cluster_prune,
    "d_ngram_jaccard": d_ngram_jaccard,
    "d_containment_pairs": d_containment_pairs,
    "d_lsh_recall": d_lsh_recall,
    "d_simhash": d_simhash,
    "d_simhash_pairs": d_simhash_pairs,
}


_SHINGLE_SQL = f"""
    SELECT DISTINCT doc_id,
           {sql_md5_int32("sh")} AS x
    FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text,' ')) - {SHINGLE_W - 1}),
                   i -> array_to_string(string_split(text,' ')[i:i+{SHINGLE_W - 1}], ' ')
               ))) AS sh
        FROM documents
        WHERE len(string_split(text,' ')) >= {SHINGLE_W}
    )
"""

_SIG_AGGS_SQL = ",\n               ".join(
    f"min(({a} * x + {b}) % {MINHASH_PRIME}) AS h{j}"
    for j, (a, b) in enumerate(_PARAMS)
)

# fps(doc_id, simhash) — shared by the fingerprint oracle and the
# hamming-pairs oracle.
_SIMHASH_CTES = f"""
        tok AS (
            SELECT doc_id, {sql_md5_int32("t")} AS h
            FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)
        ),
        votes AS (
            SELECT doc_id,
                   {", ".join(f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(32))}
            FROM tok GROUP BY doc_id),
        fps AS (
            SELECT doc_id,
                   {" + ".join(f"CASE WHEN v{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(32))} AS simhash
            FROM votes)
"""

# Shared CTE chain ending in ``lsh_pairs(id_a, id_b, jaccard)`` — used by
# the pairs oracle directly and by the connected-components oracle below.
_LSH_CTES = f"""
        sh AS ({_SHINGLE_SQL}),
        sigs AS (
            SELECT doc_id, {_SIG_AGGS_SQL}
            FROM sh GROUP BY doc_id),
        buckets AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, "
                + " || ':' || ".join(
                    f"CAST(h{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
                )
                + " AS bucket FROM sigs"
                for b in range(LSH_BANDS)
            )}),
        kept AS (
            SELECT * FROM buckets
            WHERE (band, bucket) NOT IN (
                SELECT (band, bucket) FROM buckets
                GROUP BY band, bucket HAVING count(*) > {MINHASH_BUCKET_CAP})),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id),
        counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b AND sb.x = sa.x
            GROUP BY 1, 2),
        lsh_pairs AS (
            SELECT id_a, id_b,
                   round(CAST(n_inter AS DOUBLE) /
                         CAST(ca.n + cb.n - n_inter AS DOUBLE), 9) AS jaccard
            FROM inter
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE CAST(n_inter AS DOUBLE) /
                  CAST(ca.n + cb.n - n_inter AS DOUBLE) >= {JACCARD_THRESHOLD})
"""

ORACLES = {
    "d_pagerank": _pagerank_sql(),
    "d_span_dedup": f"""
        WITH occ AS (
            SELECT doc_id,
                   u.j - 1 AS span_idx,
                   {sql_md5_int32("u.s")} AS h,
                   doc_id * {_SPAN_ENC} + (u.j - 1) AS occ_key
            FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(string_split(text,' ')) // {SPAN_W}),
                           j -> {{'j': j,
                                 's': array_to_string(
                                     string_split(text,' ')
                                         [(j-1)*{SPAN_W}+1:(j-1)*{SPAN_W}+{SPAN_W}],
                                     ' ')}}
                       )) AS u
                FROM documents
                WHERE len(string_split(text,' ')) >= {SPAN_W})),
        winners AS (SELECT h, min(occ_key) AS win_key FROM occ GROUP BY h)
        SELECT occ.doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN occ.occ_key <> w.win_key THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_spans,
               CAST(count(*) - sum(CASE WHEN occ.occ_key <> w.win_key
                                        THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept_spans
        FROM occ JOIN winners w USING (h)
        GROUP BY occ.doc_id
        ORDER BY occ.doc_id
    """,
    "d_contamination": f"""
        WITH rel AS (
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
        bench AS (
            SELECT DISTINCT x FROM rel WHERE doc_id % {CONTAM_MOD} = 0),
        nonb AS (SELECT * FROM rel WHERE doc_id % {CONTAM_MOD} <> 0),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM nonb GROUP BY 1),
        m AS (
            SELECT doc_id, count(*) AS n_matched FROM nonb
            WHERE x IN (SELECT x FROM bench) GROUP BY 1)
        SELECT m.doc_id,
               CAST(tot.n_grams AS BIGINT) AS n_grams,
               CAST(m.n_matched AS BIGINT) AS n_matched,
               round(CAST(m.n_matched AS DOUBLE)
                     / CAST(tot.n_grams AS DOUBLE), 9) AS contamination_frac
        FROM m JOIN tot USING (doc_id)
        ORDER BY doc_id
    """,
    "d_exact": """
        SELECT md5(text) AS text_hash, count(*) AS n_copies,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1 ORDER BY keep_doc_id
    """,
    "d_minhash_signatures": f"""
        SELECT doc_id,
               {_SIG_AGGS_SQL}
        FROM ({_SHINGLE_SQL})
        GROUP BY doc_id ORDER BY doc_id
    """,
    "d_ngram_jaccard": f"""
        WITH raw_sh AS ({_SHINGLE_SQL}),
        sh AS (
            SELECT * FROM raw_sh
            WHERE x NOT IN (
                SELECT x FROM raw_sh GROUP BY x HAVING count(*) > {NGRAM_DF_CAP})),
        counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) /
                     CAST(ca.n + cb.n - n_inter AS DOUBLE), 9) AS jaccard
        FROM inter
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) /
              CAST(ca.n + cb.n - n_inter AS DOUBLE) >= 0.05
        ORDER BY id_a, id_b
    """,
    "d_containment_pairs": f"""
        WITH raw_sh AS ({_SHINGLE_SQL}),
        sh AS (
            SELECT * FROM raw_sh
            WHERE x NOT IN (
                SELECT x FROM raw_sh GROUP BY x HAVING count(*) > {NGRAM_DF_CAP})),
        counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) / CAST(ca.n AS DOUBLE), 9)
                   AS cont_a_in_b,
               round(CAST(n_inter AS DOUBLE) / CAST(cb.n AS DOUBLE), 9)
                   AS cont_b_in_a
        FROM inter
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
        WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(ca.n AS DOUBLE),
                       CAST(n_inter AS DOUBLE) / CAST(cb.n AS DOUBLE))
              >= {CONTAIN_MIN}
        ORDER BY id_a, id_b
    """,
    "d_minhash_lsh_pairs": f"""
        WITH {_LSH_CTES}
        SELECT id_a, id_b, jaccard FROM lsh_pairs
        ORDER BY id_a, id_b
    """,
    # min-reachable-id per node == min doc_id of the connected
    # component (edges made symmetric; UNION dedupes → terminates)
    "d_cluster_prune": f"""
        WITH RECURSIVE {_LSH_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM lsh_pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM lsh_pairs),
        reach(node, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
        pruned AS (SELECT node AS doc_id FROM cc WHERE node <> cluster_id)
        SELECT d.source,
               count(*) AS n_docs,
               count(p.doc_id) AS n_pruned,
               count(*) - count(p.doc_id) AS n_kept
        FROM documents d LEFT JOIN pruned p ON d.doc_id = p.doc_id
        GROUP BY d.source
        ORDER BY d.source
    """,
    "d_dedup_clusters": f"""
        WITH RECURSIVE {_LSH_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM lsh_pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM lsh_pairs),
        reach(node, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
        sizes AS (SELECT cluster_id, count(*) AS cluster_size
                  FROM cc GROUP BY cluster_id)
        SELECT cc.node AS doc_id, cc.cluster_id, sizes.cluster_size,
               cc.node = cc.cluster_id AS is_canonical
        FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
        ORDER BY doc_id
    """,
    "d_simhash": f"""
        WITH {_SIMHASH_CTES}
        SELECT doc_id, simhash FROM fps ORDER BY doc_id
    """,
    "d_simhash_pairs": f"""
        WITH {_SIMHASH_CTES},
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, simhash, {b} AS band, "
                f"(simhash >> {b * 8}) & 255 AS bucket FROM fps"
                for b in range(SIMHASH_BANDS)
            )}),
        kept AS (
            SELECT * FROM bands
            WHERE (band, bucket) NOT IN (
                SELECT (band, bucket) FROM bands
                GROUP BY band, bucket HAVING count(*) > {SIMHASH_BUCKET_CAP})),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY id_a, id_b
    """,
}

ORACLES["d_substring_dedup"] = f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tn AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
        FROM base WHERE len(t) >= {SUB_W}),
    occ AS (
        SELECT doc_id, unnest(generate_series(1, len(t) - {SUB_W} + 1)) AS j, t
        FROM base WHERE len(t) >= {SUB_W}),
    g AS (
        SELECT doc_id, j,
               {sql_md5_int32(f"array_to_string(t[j:j+{SUB_W}-1], ' ')")} AS h
        FROM occ),
    dup_h AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    per AS (
        SELECT doc_id, count(*) AS n_dup_grams, list_sort(list(j)) AS js
        FROM g JOIN dup_h USING (h) GROUP BY doc_id),
    stats AS (
        SELECT doc_id,
               CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
               CAST(1 + len(list_filter(
                   list_zip(js[1:len(js)-1], js[2:len(js)]),
                   z -> z[2] - z[1] > {SUB_W})) AS BIGINT) AS n_dup_spans,
               CAST({SUB_W} + coalesce(list_sum(list_transform(
                   list_zip(js[1:len(js)-1], js[2:len(js)]),
                   z -> least({SUB_W}, z[2] - z[1]))), 0) AS BIGINT)
                   AS n_dup_tokens
        FROM per)
    SELECT tn.doc_id, tn.n_tokens,
           coalesce(s.n_dup_grams, 0) AS n_dup_grams,
           coalesce(s.n_dup_spans, 0) AS n_dup_spans,
           coalesce(s.n_dup_tokens, 0) AS n_dup_tokens,
           round(CAST(coalesce(s.n_dup_tokens, 0) AS DOUBLE)
                 / CAST(tn.n_tokens AS DOUBLE), 9) AS dup_frac
    FROM tn LEFT JOIN stats s USING (doc_id)
    ORDER BY doc_id
"""

_INCR_GATE = f"({sql_md5_int32('CAST(doc_id AS VARCHAR)')} % {INCR_BATCH_MOD} = 0)"

ORACLES["d_incremental"] = f"""
    WITH flags AS (
        SELECT doc_id, text, {_INCR_GATE} AS is_new FROM documents),
    old_hash AS (
        SELECT md5(text) AS th, min(doc_id) AS exact_match_id
        FROM flags WHERE NOT is_new GROUP BY 1),
    exact AS (
        SELECT f.doc_id, o.exact_match_id
        FROM flags f JOIN old_hash o ON md5(f.text) = o.th
        WHERE f.is_new),
    sh AS ({_SHINGLE_SQL}),
    sigs AS (SELECT doc_id, {_SIG_AGGS_SQL} FROM sh GROUP BY doc_id),
    buckets AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            + " || ':' || ".join(
                f"CAST(h{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
            )
            + " AS bucket FROM sigs"
            for b in range(LSH_BANDS)
        )}),
    bflag AS (SELECT *, {_INCR_GATE} AS is_new FROM buckets),
    kept AS (
        SELECT * FROM bflag
        WHERE (band, bucket) NOT IN (
            SELECT (band, bucket) FROM bflag WHERE NOT is_new
            GROUP BY band, bucket HAVING count(*) > {MINHASH_BUCKET_CAP})),
    cand AS (
        SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
        FROM kept n JOIN kept o
          ON n.band = o.band AND n.bucket = o.bucket
         AND n.is_new AND NOT o.is_new),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_new, c.id_old, count(*) AS ni
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_new
        JOIN sh sb ON sb.doc_id = c.id_old AND sb.x = sa.x
        GROUP BY 1, 2),
    ver AS (
        SELECT id_new, id_old,
               round(CAST(ni AS DOUBLE)
                     / CAST(ca.n + cb.n - ni AS DOUBLE), 9) AS jaccard
        FROM inter
        JOIN counts ca ON ca.doc_id = id_new
        JOIN counts cb ON cb.doc_id = id_old
        WHERE CAST(ni AS DOUBLE)
              / CAST(ca.n + cb.n - ni AS DOUBLE) >= {JACCARD_THRESHOLD}),
    bj AS (SELECT id_new, max(jaccard) AS mj FROM ver GROUP BY 1),
    best AS (
        SELECT v.id_new, min(v.id_old) AS near_match_id,
               max(v.jaccard) AS near_jaccard
        FROM ver v JOIN bj ON v.id_new = bj.id_new AND v.jaccard = bj.mj
        GROUP BY 1)
    SELECT f.doc_id,
           CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact_dup'
                WHEN b.near_match_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           CAST(coalesce(e.exact_match_id, b.near_match_id, -1) AS BIGINT)
               AS match_id,
           coalesce(CASE WHEN e.exact_match_id IS NULL THEN b.near_jaccard END,
                    CAST(-1.0 AS DOUBLE)) AS jaccard
    FROM flags f
    LEFT JOIN exact e ON f.doc_id = e.doc_id
    LEFT JOIN best b ON f.doc_id = b.id_new
    WHERE f.is_new
    ORDER BY f.doc_id
"""


ORACLES["d_lsh_recall"] = f"""
    WITH {_LSH_CTES},
    capped AS (
        SELECT * FROM sh
        WHERE x NOT IN (
            SELECT x FROM sh GROUP BY x HAVING count(*) > {NGRAM_DF_CAP})),
    tcounts AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    tinter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM capped a JOIN capped b ON a.x = b.x AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    truth AS (
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) /
                     CAST(ca.n + cb.n - n_inter AS DOUBLE), 9) AS jaccard
        FROM tinter
        JOIN tcounts ca ON ca.doc_id = id_a
        JOIN tcounts cb ON cb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) /
              CAST(ca.n + cb.n - n_inter AS DOUBLE) >= {JACCARD_THRESHOLD})
    SELECT t.id_a, t.id_b, t.jaccard,
           lp.id_a IS NOT NULL AS found_by_lsh
    FROM truth t
    LEFT JOIN lsh_pairs lp ON lp.id_a = t.id_a AND lp.id_b = t.id_b
    ORDER BY t.id_a, t.id_b
"""
