"""Text chunking for LLM/RAG pipelines (beyond the reference; its
precedent is the AI components design —
docs/design-documents/20260724-ai-pipeline-components.md — which
pairs chunking with the cohere/openai embed processors).

Token-window chunking with overlap, as pure array algebra: tokenize →
window starts via sequence(stride) → slice per start → posexplode.
Narrow (no shuffle), codegen'd, and exactly reproducible in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark.sources.tables import load_table
from conduit_spark.analytics import ordered_result
from conduit_spark.plans import barrier

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_OVERLAP = 8  # tokens shared between consecutive chunks
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Explode each document into overlapping token-window chunks.

    Adds ``chunk_idx``, ``chunk_text``, ``chunk_n_tokens``. Documents
    shorter than one stride still yield chunk 0.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap

    # r14: bind the token array ONCE per row via the 1-element-array
    # lambda capture (the word_grams trick) — the previous free
    # ``toks = split(...)`` reference inside the slice lambda
    # re-tokenized the document once per chunk (plus once for the
    # start sequence), the CollapseProject trap the project convention
    # flags. Values unchanged: same split, same windows.
    def _windows(t):
        n_chunks = F.greatest(
            F.ceil(
                (F.size(t) - F.lit(overlap)).cast("double") / F.lit(stride)
            ).cast("int"),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda s: F.slice(t, s * stride + 1, size),
        )

    chunks = F.transform(
        F.array(F.split(F.col(text_col), " ")), _windows
    )[0]
    out = df.withColumn("__chunks", chunks).select(
        "*",
        F.posexplode("__chunks").alias("chunk_idx", "__chunk_toks"),
    )
    return (
        out.withColumn("chunk_text", F.concat_ws(" ", F.col("__chunk_toks")))
        .withColumn("chunk_n_tokens", F.size("__chunk_toks"))
        .drop("__chunks", "__chunk_toks")
    )


def c_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text(docs).select(
        "doc_id", "chunk_idx", "chunk_text", "chunk_n_tokens"
    )


# --- GPT-style sequence packing --------------------------------------

PACK_BLOCK = 512  # tokens per training block
PACK_BUCKET = 4096  # docs per prefix-sum bucket


def c_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-chunk sequence packing: lay every document's
    tokens end-to-end in ``doc_id`` order and cut ``PACK_BLOCK``-token
    training blocks — each doc's global token offset and the block
    range it spans (the standard LLM pretraining data layout).

    The global offset is a prefix sum. A single ``Window.orderBy``
    computes it in ONE task over ALL docs — the q15 regression class —
    so this uses the two-phase shape instead: per-bucket token sums
    (keyed agg, ``PACK_BUCKET`` docs per bucket) → running sum over
    the tiny bucket relation (the only global window, n_docs/4096
    rows — ~250k rows at 10⁹ docs, trivially one task) → join back +
    an intra-bucket window partitioned by bucket. Work per task stays
    bounded by the bucket size at any corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = barrier(docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.expr(f"doc_id div {PACK_BUCKET}").alias("bucket"),
    ))  # feeds the bucket sums AND the join back
    from pyspark.sql import Window

    bsums = per_doc.groupBy("bucket").agg(F.sum("n_tokens").alias("bt"))
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boffs = bsums.select(
        "bucket", F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("bucket_off")
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.col("bucket_off") + F.coalesce(
        F.sum("n_tokens").over(wi), F.lit(0)
    )
    return (
        per_doc.join(boffs, "bucket")
        .withColumn("token_offset", off)
        .select(
            "doc_id",
            "n_tokens",
            "token_offset",
            F.expr(f"token_offset div {PACK_BLOCK}").alias("start_block"),
            F.expr(
                f"(token_offset + n_tokens - 1) div {PACK_BLOCK}"
            ).alias("end_block"),
        )
        .transform(ordered_result, "doc_id")
    )


# --- content-defined chunking (CDC) ----------------------------------

CDC_W = 3  # boundary decision window (words)
CDC_DIV = 8  # boundary density: 1-in-CDC_DIV positions on average


def c_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, LBFS SOSP
    2001): a chunk boundary falls after word *i* whenever the hash of
    the ``CDC_W``-word window ending at *i* is ``0 mod CDC_DIV`` —
    boundaries depend only on LOCAL content, so inserting or deleting
    a word reshuffles at most the two adjacent chunks while every
    other chunk (and its hash) survives verbatim. That shift
    resistance is why storage dedup and sub-document corpus dedup cut
    on content, not fixed offsets: the fixed-window chunker
    (:func:`c_chunk_documents`) loses every chunk hash downstream of
    a one-word edit. Per document: word count, chunk count (expected
    mean chunk ≈ ``CDC_DIV`` words), and how many of its chunk
    instances are SHARED (same chunk text appearing in ≥ 2 distinct
    documents) — the dedup-opportunity measure a CDC pass exists to
    surface. Production knobs (min/max chunk clamps, gear tables)
    change constants, not this shape.

    Exactness: boundaries and chunk identities ride ``md5_int32`` (the
    cross-engine hash every sketch uses), all counts are integers, and
    the oracle replays the identical window-gate + cut-list + slice
    per document — a drifted boundary rule cannot hash-match.

    Scale shape: the boundary scan, cut list, and per-chunk hashes are
    ONE in-codegen projection per row (the token array is bound once
    via the 1-element-array lambda capture — the CollapseProject
    guard), so no shuffle touches the corpus beyond the chunk-hash
    explode (~n_words/CDC_DIV rows, smaller than any gram relation);
    the shared-hash detection is a hash-keyed agg with map-side
    partials and the join back is on the checkpointed slim relation.
    No windows, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = (
        "CAST(conv(substr(md5(array_join(slice(toks, i - {w} + 1, {w}), "
        "' ')), 1, 8), 16, 10) AS BIGINT)"
    ).format(w=CDC_W)
    chunk_h = (
        "CAST(conv(substr(md5(array_join(slice(toks, element_at(p.st, k) + 1, "
        "element_at(p.en, k) - element_at(p.st, k)), ' ')), 1, 8), 16, 10) "
        "AS BIGINT)"
    )
    s_expr = f"""
        transform(array(split(text, ' ')), toks ->
            named_struct(
                'n', size(toks),
                'hashes',
                transform(array(filter(sequence({CDC_W},
                                    greatest(size(toks), {CDC_W})),
                                i -> i < size(toks) AND {h} % {CDC_DIV} = 0)),
                    cuts -> transform(array(named_struct(
                            'st', concat(array(0), cuts),
                            'en', concat(cuts, array(size(toks))))),
                        p -> transform(sequence(1, size(p.en)),
                            k -> {chunk_h}))[0])[0]
            ))[0]
    """
    # NB the nested bind-once wrappers: `toks`, then `cuts`, then the
    # (st, en) cut-list struct — each computed array is captured into a
    # 1-element array lambda so Catalyst cannot inline it per
    # reference site
    per_doc = barrier(docs.select(
        "doc_id", F.expr(s_expr).alias("s")
    ))  # feeds the chunk relation AND the stats join
    rel = barrier(per_doc.select(
        "doc_id", F.explode(F.col("s.hashes")).alias("ch")
    ))
    shared = (
        rel.groupBy("ch")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ch")
    )
    n_shared = (
        rel.join(shared, "ch", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
    )
    return (
        per_doc.join(n_shared, "doc_id", "left")
        .select(
            "doc_id",
            F.col("s.n").cast("bigint").alias("n_words"),
            F.size("s.hashes").cast("bigint").alias("n_chunks"),
            F.coalesce(F.col("n_shared_chunks"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
        )
        .transform(ordered_result, "doc_id")
    )


QUERIES = {
    "c_chunk_documents": c_chunk_documents,
    "c_pack_blocks": c_pack_blocks,
    "c_cdc_chunks": c_cdc_chunks,
}

_SQL_CDC_H = (
    f"CAST('0x' || substr(md5(array_to_string("
    f"toks[i - {CDC_W} + 1 : i], ' ')), 1, 8) AS BIGINT)"
)

ORACLES = {
    "c_cdc_chunks": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents),
        cuts AS (
            SELECT doc_id, toks, n,
                   list_filter(generate_series({CDC_W}, greatest(n, {CDC_W})),
                       i -> i < n AND {_SQL_CDC_H} % {CDC_DIV} = 0) AS c
            FROM t),
        seg AS (
            SELECT doc_id, toks, n,
                   list_prepend(0, c) AS st,
                   list_append(c, n) AS en
            FROM cuts),
        hashes AS (
            SELECT doc_id, n,
                   list_transform(generate_series(1, len(en)), k ->
                       CAST('0x' || substr(md5(array_to_string(
                           toks[st[k] + 1 : en[k]], ' ')), 1, 8) AS BIGINT))
                       AS hs
            FROM seg),
        rel AS (
            SELECT doc_id, unnest(hs) AS ch FROM hashes),
        shared AS (
            SELECT ch FROM rel GROUP BY ch
            HAVING count(DISTINCT doc_id) >= 2),
        ns AS (
            SELECT rel.doc_id, count(*) AS n_shared_chunks
            FROM rel SEMI JOIN shared USING (ch)
            GROUP BY rel.doc_id)
        SELECT h.doc_id,
               CAST(h.n AS BIGINT) AS n_words,
               CAST(len(h.hs) AS BIGINT) AS n_chunks,
               CAST(COALESCE(ns.n_shared_chunks, 0) AS BIGINT)
                   AS n_shared_chunks
        FROM hashes h LEFT JOIN ns ON h.doc_id = ns.doc_id
        ORDER BY h.doc_id
    """,
    "c_pack_blocks": f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents),
        o AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS token_offset
            FROM d)
        SELECT doc_id, n_tokens, token_offset,
               token_offset // {PACK_BLOCK} AS start_block,
               (token_offset + n_tokens - 1) // {PACK_BLOCK} AS end_block
        FROM o
        ORDER BY doc_id
    """,
    "c_chunk_documents": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents),
        starts AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       greatest(CAST(ceil(CAST(n - {CHUNK_OVERLAP} AS DOUBLE)
                                / {_STRIDE}) AS INT), 1) - 1)) AS c
            FROM t)
        SELECT doc_id, CAST(c AS INT) AS chunk_idx,
               array_to_string(toks[c * {_STRIDE} + 1 : c * {_STRIDE} + {CHUNK_SIZE}], ' ')
                   AS chunk_text,
               len(toks[c * {_STRIDE} + 1 : c * {_STRIDE} + {CHUNK_SIZE}])
                   AS chunk_n_tokens
        FROM starts
    """,
}
