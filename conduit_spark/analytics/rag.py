"""End-to-end RAG ingestion pipeline: chunk → embed → ANN retrieve.

The reference's RAG precedent is its e2e pipeline test
(rag-e2e.yml workflow) built from cohere.embed + processors; here the
whole flow is one DataFrame plan: overlapping chunking (array
algebra), Arrow-batched embedding, sign-LSH-ready vectors, and top-k
retrieval against a query string — no driver-side loops, every stage
partition-parallel.

The embedding stage runs through the real ``llm_embed`` operator
(envelope, mapInPandas, batching, error routing) with the
``hash_embed_transport`` — per-text md5-derived vectors that are
batch- and partition-invariant, so the WHOLE pipeline (chunk → embed
→ cosine top-k) has an exact DuckDB oracle: the embedding of each
chunk is ``md5(model:text:dim)`` scaled to [0,1), reproduced in SQL
via the cross-engine md5 trick (functions/hashing.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark import envelope as env
from conduit_spark import operators as ops
from conduit_spark.analytics.chunking import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    _STRIDE,
    chunk_text,
)
from conduit_spark.analytics.similarity import cosine
from conduit_spark.operators.enrich import HASH_EMBED_DIM
from conduit_spark.plans import barrier
from conduit_spark.sources.tables import load_table

TOP_K = 5
QUERY_TEXT = "fast hash join on big table"
EMBED_MODEL = "embed-v3"


def _chunk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, score): cosine of every chunk embedding vs
    the query embedding — the dense-retrieval relation before top-k."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_text(docs).select(
        "doc_id", "chunk_idx", F.col("chunk_text").alias("text")
    )

    def embed(df: DataFrame) -> DataFrame:
        env_df = env.from_table(
            df, key_cols=["doc_id", "chunk_idx"], source_id="rag", typed=True
        )
        out = ops.llm_embed(
            env_df,
            provider="cohere",
            model=EMBED_MODEL,
            input_field=".Payload.After.text",
            output_col="embedding",
            transport=ops.hash_embed_transport,
        )
        return out.select(
            F.col("payload_after.doc_id").alias("doc_id"),
            F.col("payload_after.chunk_idx").alias("chunk_idx"),
            F.col("embedding"),
        )

    # embed the 1-row query through the SAME transport function as the
    # corpus, but driver-side: a full envelope+mapInPandas stage for
    # one row cost ~0.4s of pure scheduling (r5), and the transport is
    # deterministic pure Python, so calling it directly yields the
    # bit-identical doubles the distributed path would.
    vecs = embed(chunks)
    qv = ops.hash_embed_transport(
        {"kind": "embed", "model": EMBED_MODEL, "input": [QUERY_TEXT]}
    )["output"][0]
    qvec = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in qv]).alias("qvec")
    )
    return vecs.crossJoin(F.broadcast(qvec)).select(
        "doc_id",
        "chunk_idx",
        F.round(cosine(F.col("embedding"), F.col("qvec")), 9).alias("score"),
    )


def rag_ingest_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk all documents, embed chunks + the query (same transport),
    return the top-k chunks by cosine similarity."""
    return (
        _chunk_scores(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("chunk_idx"))
        .limit(TOP_K)
    )


# Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR 2009)
# of the dense leg (chunk-embedding cosine, doc-level best chunk) and
# the lexical leg (BM25 over the same query terms) — the standard
# fusion every hybrid-search stack ships because it needs no score
# calibration between retrievers.
RRF_K = 60  # the canonical RRF damping constant
RRF_DEPTH = 20  # per-retriever candidate depth fed to the fusion
RRF_TOPK = 10


def _rank_topn(df: DataFrame, score_col: str, n: int) -> DataFrame:
    """(doc_id, rank) for the top-``n`` rows by (score desc, doc_id) —
    rank WITHOUT a global window: the top-n relation (orderBy+limit =
    TakeOrdered) is collapsed into ONE array row, and each member's
    rank is an in-row count over that array. n is a constant (20), so
    the array is bounded by construction at any corpus size — the
    global-window smell never appears. r14: this replaced a
    checkpointed n x n rank self-join — a checkpoint (even
    lazy) forces full Catalyst planning of the scoring subtree at
    construction, ~0.9s per leg for the embed pipeline, and the
    self-join added two more plan copies. Same (doc_id, rank) rows."""
    top = df.orderBy(F.desc(score_col), F.asc("doc_id")).limit(n)
    arr = top.agg(
        F.collect_list(F.struct(score_col, "doc_id")).alias("t")
    )
    r = F.col("r")
    rank = F.size(
        F.filter(
            F.col("t"),
            lambda x: (x[score_col] > r[score_col])
            | (
                (x[score_col] == r[score_col])
                & (x["doc_id"] <= r["doc_id"])
            ),
        )
    )
    return arr.select(F.explode("t").alias("r"), "t").select(
        F.col("r.doc_id").alias("doc_id"),
        rank.cast("bigint").alias("rank"),
    )


def rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by reciprocal-rank fusion of dense and BM25
    retrieval for the same query: ``rrf(d) = 1/(60+rank_dense(d)) +
    1/(60+rank_bm25(d))``, each rank over its retriever's top-20
    (missing from a leg contributes 0; -1 rank sentinel in the output).

    Scale: each leg is an SF-linear scoring relation reduced to a
    constant-size top-20 by TakeOrdered; ranking and fusion then touch
    at most 40 rows regardless of corpus size.
    """
    from conduit_spark.analytics.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dense_doc = (
        _chunk_scores(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.max("score").alias("dscore"))
    )
    d_rank = _rank_topn(dense_doc, "dscore", RRF_DEPTH).withColumnRenamed(
        "rank", "rd"
    )
    terms = tuple(QUERY_TEXT.split(" "))
    b_rank = _rank_topn(bm25_scores(docs, terms), "bm25", RRF_DEPTH).withColumnRenamed(
        "rank", "rb"
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + c.cast("double")), F.lit(0.0)
    )
    return (
        d_rank.join(b_rank, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce(F.col("rd"), F.lit(-1)).cast("bigint").alias("rank_dense"),
            F.coalesce(F.col("rb"), F.lit(-1)).cast("bigint").alias("rank_bm25"),
            F.round(contrib(F.col("rd")) + contrib(F.col("rb")), 9).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOPK)
    )


def _sql_hash_vec(text_expr: str) -> str:
    """DuckDB list literal mirroring hash_embed_transport."""
    dims = ", ".join(
        f"CAST('0x' || substr(md5('{EMBED_MODEL}:' || {text_expr} || ':{j}'), 1, 8)"
        f" AS BIGINT) / 4294967296.0"
        for j in range(HASH_EMBED_DIM)
    )
    return f"[{dims}]"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform({a}, (x, i) -> x * {b}[i]))"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


QUERIES = {
    "rag_ingest_retrieve": rag_ingest_retrieve,
    "rag_hybrid_rrf": rag_hybrid_rrf,
}

# CTE chain ending in dense_scores(doc_id, chunk_idx, score) — the SQL
# mirror of _chunk_scores, shared by both oracles.
_DENSE_CTES = f"""t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents),
        starts AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       greatest(CAST(ceil(CAST(n - {CHUNK_OVERLAP} AS DOUBLE)
                                / {_STRIDE}) AS INT), 1) - 1)) AS c
            FROM t),
        chunks AS (
            SELECT doc_id, CAST(c AS INT) AS chunk_idx,
                   array_to_string(
                       toks[c * {_STRIDE} + 1 : c * {_STRIDE} + {CHUNK_SIZE}],
                       ' ') AS chunk_text
            FROM starts),
        emb AS (
            SELECT doc_id, chunk_idx,
                   {_sql_hash_vec("chunk_text")} AS v
            FROM chunks),
        q AS (SELECT {_sql_hash_vec(f"'{QUERY_TEXT}'")} AS qv),
        dense_scores AS (
            SELECT doc_id, chunk_idx,
                   round({_sql_dot("v", "qv")}
                         / ({_sql_norm("v")} * {_sql_norm("qv")}), 9) AS score
            FROM emb, q)"""

ORACLES = {
    "rag_ingest_retrieve": f"""
        WITH {_DENSE_CTES}
        SELECT doc_id, chunk_idx, score
        FROM dense_scores
        ORDER BY score DESC, doc_id ASC, chunk_idx ASC
        LIMIT {TOP_K}
    """,
}


def _hybrid_rrf_sql() -> str:
    from conduit_spark.analytics.text import bm25_cte_sql

    terms = tuple(QUERY_TEXT.split(" "))

    def rank_cte(src: str, col: str) -> str:
        # the same constant-size self-join rank as the Spark side
        return f"""(
            SELECT a.doc_id, CAST(count(*) AS BIGINT) AS rank
            FROM (SELECT doc_id, {col} FROM {src}
                  ORDER BY {col} DESC, doc_id ASC LIMIT {RRF_DEPTH}) a
            JOIN (SELECT doc_id, {col} FROM {src}
                  ORDER BY {col} DESC, doc_id ASC LIMIT {RRF_DEPTH}) b
              ON b.{col} > a.{col}
                 OR (b.{col} = a.{col} AND b.doc_id <= a.doc_id)
            GROUP BY a.doc_id)"""

    return f"""
        WITH {_DENSE_CTES},
        {bm25_cte_sql(terms)},
        ddoc AS (
            SELECT doc_id, max(score) AS dscore
            FROM dense_scores GROUP BY doc_id),
        drank AS {rank_cte("ddoc", "dscore")},
        brank AS {rank_cte("bm25_per", "bm25")}
        SELECT coalesce(d.doc_id, b.doc_id) AS doc_id,
               CAST(coalesce(d.rank, -1) AS BIGINT) AS rank_dense,
               CAST(coalesce(b.rank, -1) AS BIGINT) AS rank_bm25,
               round(coalesce(1.0 / ({float(RRF_K)}
                                     + CAST(d.rank AS DOUBLE)), 0.0)
                     + coalesce(1.0 / ({float(RRF_K)}
                                       + CAST(b.rank AS DOUBLE)), 0.0), 9)
                   AS rrf
        FROM drank d FULL OUTER JOIN brank b ON d.doc_id = b.doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT {RRF_TOPK}
    """


ORACLES["rag_hybrid_rrf"] = _hybrid_rrf_sql()


# --- hard-negative mining (round-10 addition) --------------------------
#
# Contrastive retriever training (DPR / sentence-transformers / E5
# recipes) needs, per training query, one positive plus the TOP-SCORING
# non-positives as "hard negatives" — random negatives are trivially
# separable and teach nothing. BM25-mined hard negatives are the
# standard recipe (the DPR paper's best configuration).

HN_QUERIES = (
    (1, ("merge", "spark", "window")),  # = text.BM25_QUERY
    (2, ("join", "hash", "filter")),
    (3, ("stream", "vector", "sort")),
)
HN_K = 5  # hard negatives per query (ranks 2..HN_K+1)


def _hn_scored(docs: DataFrame) -> DataFrame:
    """The shared (query_id, doc_id, bm25) relation of the HN_QUERIES
    batch — ONE :func:`text.bm25_scores_multi` corpus pass,
    checkpointed so each consumer leg's sort-limit reads executor
    blocks instead of re-running the scan (r14, guide §2.4/§5; the
    per-leg floats are bit-equal to the old three bm25_scores legs,
    see bm25_scores_multi)."""
    from conduit_spark.analytics.text import bm25_scores_multi

    return barrier(
        bm25_scores_multi(docs, HN_QUERIES)
        .select("query_id", "doc_id", "bm25")
    )


def rag_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining for retriever training: for each
    training query, rank-1 is the positive, ranks 2..6 are the hard
    negatives (reference scope: the RAG/training-data families of
    SURVEY §2's operators; DPR-style contrastive data prep).

    Plan shape: each query leg is the SF-linear ``text.bm25_scores``
    pipeline (|q|-row broadcast relations, no windows) ended by
    orderBy+limit — TakeOrdered, never a global sort. The three
    (1+HN_K)-row legs union into an 18-row pool, materialized once
    (one barrier) and ranked by a count-of-better self-join —
    a broadcast join on a constant-size relation, the same shape the
    plan audit whitelists for s_mmr_rerank's bounded pool; no
    single-partition window anywhere. At 100 TB the legs are the only
    corpus-sized work and each is one BM25 scan; real workloads batch
    many queries per leg (tf filter on a broadcast term set), which is
    this exact DAG with a wider isin."""
    docs = load_table(spark, sf_dir, "documents")
    # r14: the three legs share ONE scored relation (bm25_scores_multi
    # — one corpus scan for all queries, bit-equal per-leg floats);
    # the checkpoint pins it so each leg's TakeOrdered reads blocks
    scored = _hn_scored(docs)
    pool = None
    for qid, _ in HN_QUERIES:
        leg = (
            scored.filter(F.col("query_id") == qid)
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(1 + HN_K)
            .select("query_id", "doc_id", "bm25")
        )
        pool = leg if pool is None else pool.unionByName(leg)
    pool = barrier(pool)  # 18 rows; feeds both rank-join sides
    a, b = pool.alias("a"), pool.alias("b")
    better = (F.col("b.bm25") > F.col("a.bm25")) | (
        (F.col("b.bm25") == F.col("a.bm25"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("a.query_id") == F.col("b.query_id")) & better,
            "left",
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.bm25").alias("bm25"),
        )
        .agg((F.count(F.col("b.doc_id")) + 1).cast("bigint").alias("rank"))
    )
    from conduit_spark.analytics import ordered_result

    return ranked.select(
        "query_id",
        "doc_id",
        "bm25",
        "rank",
        F.when(F.col("rank") == 1, "positive")
        .otherwise("hard_negative")
        .alias("role"),
    ).transform(ordered_result, "query_id", "rank")


def _hard_negatives_sql() -> str:
    from conduit_spark.analytics.text import bm25_cte_sql

    legs = " UNION ALL ".join(
        f"""SELECT CAST({qid} AS BIGINT) AS query_id, doc_id, bm25
            FROM (WITH {bm25_cte_sql(terms)}
                  SELECT doc_id, bm25 FROM bm25_per
                  ORDER BY bm25 DESC, doc_id ASC LIMIT {1 + HN_K})"""
        for qid, terms in HN_QUERIES
    )
    return f"""
        WITH pool AS ({legs})
        SELECT a.query_id, a.doc_id, a.bm25,
               CAST(1 + (SELECT count(*) FROM pool b
                         WHERE b.query_id = a.query_id
                           AND (b.bm25 > a.bm25
                                OR (b.bm25 = a.bm25 AND b.doc_id < a.doc_id)))
                    AS BIGINT) AS rank,
               CASE WHEN 1 + (SELECT count(*) FROM pool b
                              WHERE b.query_id = a.query_id
                                AND (b.bm25 > a.bm25
                                     OR (b.bm25 = a.bm25
                                         AND b.doc_id < a.doc_id))) = 1
                    THEN 'positive' ELSE 'hard_negative' END AS role
        FROM pool a
        ORDER BY a.query_id, rank
    """


QUERIES["rag_hard_negatives"] = rag_hard_negatives
ORACLES["rag_hard_negatives"] = _hard_negatives_sql()

# --- context packing (the prompt-assembly step) -----------------------

PACK_POOL = 10  # BM25 candidates per query
PACK_BUDGET = 280  # context token budget per query


def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted context assembly — the step between retrieval
    and generation: for each query take the BM25 top-``PACK_POOL``
    candidates in rank order and GREEDILY pack them into a
    ``PACK_BUDGET``-token context, SKIPPING any candidate that would
    overflow and continuing with later (smaller) ones — the
    skip-and-continue greedy packer real prompt assemblers use, not
    the stop-at-first-overflow truncation (that global variant is
    :func:`curation.cur_token_budget`'s territory). Emits every
    candidate with its rank, kept/skipped decision, and the running
    kept-token total after its decision.

    Exactness: token counts are integers, BM25 ranking reuses the
    :func:`rag_hard_negatives` count-of-better recipe, and the greedy
    fold is a per-query sequential recurrence — Spark runs it as an
    ``aggregate`` fold over the rank-sorted candidate array (≤
    ``PACK_POOL`` structs per query, whole-stage codegen), DuckDB as a
    recursive CTE stepping rank-by-rank; both walk the identical
    integer recurrence so decisions match bit-for-bit.

    Scale shape: each query leg is the SF-linear BM25 scan ended by
    TakeOrdered (never a global sort); the pool is 3 × PACK_POOL rows
    materialized once; ranking is the broadcast count-of-better
    self-join on that constant relation; the fold and the final
    explode touch only pool-sized data. At 100 TB the legs are the
    only corpus-sized work — identical posture to the hard-negative
    miner; batching many queries per leg widens the isin, not the
    plan."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    # r14: one shared scored relation for all three legs (see
    # _hn_scored / bm25_scores_multi — bit-equal per-leg floats)
    scored = _hn_scored(docs)
    pool = None
    for qid, _ in HN_QUERIES:
        leg = (
            scored.filter(F.col("query_id") == qid)
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(PACK_POOL)
            .select("query_id", "doc_id", "bm25")
        )
        pool = leg if pool is None else pool.unionByName(leg)
    pool = barrier(  # 3 x PACK_POOL rows; feeds both rank sides
        pool.join(ntok, "doc_id")
        .select("query_id", "doc_id", "bm25", "n_tokens")
    )
    a, b = pool.alias("a"), pool.alias("b")
    better = (F.col("b.bm25") > F.col("a.bm25")) | (
        (F.col("b.bm25") == F.col("a.bm25"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("a.query_id") == F.col("b.query_id")) & better,
            "left",
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.n_tokens").alias("n_tokens"),
        )
        .agg((F.count(F.col("b.doc_id")) + 1).cast("bigint").alias("rank"))
    )
    # greedy skip-and-continue fold over the rank-sorted candidates:
    # acc = (cum, decisions[]); keep iff cum + n_tokens <= BUDGET
    packed = (
        ranked.groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "doc_id", "n_tokens"))
            ).alias("cand")
        )
        .select(
            "query_id",
            F.expr(
                f"""aggregate(
                    cand,
                    named_struct(
                        'cum', CAST(0 AS BIGINT),
                        'out', CAST(array() AS
                            array<struct<rank:bigint, doc_id:bigint,
                                         n_tokens:bigint, kept:boolean,
                                         cum_tokens:bigint>>)),
                    (acc, x) -> CASE
                        WHEN acc.cum + x.n_tokens <= {PACK_BUDGET}
                        THEN named_struct(
                            'cum', acc.cum + x.n_tokens,
                            'out', concat(acc.out, array(named_struct(
                                'rank', x.rank, 'doc_id', x.doc_id,
                                'n_tokens', CAST(x.n_tokens AS BIGINT),
                                'kept', true,
                                'cum_tokens', acc.cum + x.n_tokens))))
                        ELSE named_struct(
                            'cum', acc.cum,
                            'out', concat(acc.out, array(named_struct(
                                'rank', x.rank, 'doc_id', x.doc_id,
                                'n_tokens', CAST(x.n_tokens AS BIGINT),
                                'kept', false,
                                'cum_tokens', acc.cum))))
                    END).out"""
            ).alias("out"),
        )
        .select("query_id", F.explode("out").alias("o"))
        .select(
            "query_id",
            F.col("o.rank").alias("rank"),
            F.col("o.doc_id").alias("doc_id"),
            F.col("o.n_tokens").alias("n_tokens"),
            F.col("o.kept").alias("kept"),
            F.col("o.cum_tokens").alias("cum_tokens"),
        )
    )
    from conduit_spark.analytics import ordered_result

    return packed.transform(ordered_result, "query_id", "rank")


def _context_pack_sql() -> str:
    from conduit_spark.analytics.text import bm25_cte_sql

    legs = " UNION ALL ".join(
        f"""SELECT CAST({qid} AS BIGINT) AS query_id, doc_id, bm25, n_tokens
            FROM (WITH {bm25_cte_sql(terms)}
                  SELECT b.doc_id, b.bm25, CAST(l.dl AS BIGINT) AS n_tokens
                  FROM bm25_per b JOIN dl l USING (doc_id)
                  ORDER BY bm25 DESC, doc_id ASC LIMIT {PACK_POOL})"""
        for qid, terms in HN_QUERIES
    )
    return f"""
        WITH RECURSIVE pool AS MATERIALIZED ({legs}),
        cand AS MATERIALIZED (
            SELECT a.query_id, a.doc_id, a.n_tokens,
                   CAST(1 + (SELECT count(*) FROM pool b
                             WHERE b.query_id = a.query_id
                               AND (b.bm25 > a.bm25
                                    OR (b.bm25 = a.bm25
                                        AND b.doc_id < a.doc_id)))
                        AS BIGINT) AS rank
            FROM pool a),
        steps AS (
            SELECT query_id, CAST(0 AS BIGINT) AS rank,
                   CAST(0 AS BIGINT) AS cum
            FROM (SELECT DISTINCT query_id FROM cand)
            UNION ALL
            SELECT s.query_id, s.rank + 1,
                   CASE WHEN s.cum + c.n_tokens <= {PACK_BUDGET}
                        THEN s.cum + c.n_tokens ELSE s.cum END
            FROM steps s
            JOIN cand c ON c.query_id = s.query_id
                       AND c.rank = s.rank + 1)
        SELECT c.query_id, c.rank, c.doc_id, c.n_tokens,
               (s.cum > sp.cum) AS kept,
               s.cum AS cum_tokens
        FROM cand c
        JOIN steps s  ON s.query_id = c.query_id AND s.rank = c.rank
        JOIN steps sp ON sp.query_id = c.query_id AND sp.rank = c.rank - 1
        ORDER BY c.query_id, c.rank
    """


QUERIES["rag_context_pack"] = rag_context_pack
ORACLES["rag_context_pack"] = _context_pack_sql()
