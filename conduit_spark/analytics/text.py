"""Text analysis for training-data pipelines (beyond the reference).

Language ID (marker-word heuristic), quality scoring (length /
punctuation / stopword / uniqueness ratios), token counting, and
document fingerprinting (position-weighted rolling hash) over the
``documents`` table. Everything is built-in-function column algebra —
single scan, one optional shuffle, no Python — and each query has an
exact DuckDB oracle (hash parity via functions.hashing).

The reference's closest precedent is its AI-pipeline processor family
(cohere/openai/ollama, docs/design-documents/20260724-ai-pipeline-components.md);
these operators are the deterministic, 100 TB-scalable complement.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from conduit_spark.functions.hashing import md5_int32, sql_md5_int32
from conduit_spark.analytics import ordered_result
from conduit_spark.plans import barrier, iteration_barrier
from conduit_spark.sources.tables import load_table

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "fast"),
    "es": ("el", "la", "los", "una", "es"),
    "de": ("der", "die", "und", "ist", "ein"),
    "fr": ("le", "les", "et", "est", "une"),
    "zh": ("de", "shi", "he", "zai", "le"),
}
_LANG_ORDER = ("en", "es", "de", "fr", "zh")


def _tokens():
    return F.split(F.col("text"), " ")


def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + distinct count per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars_actual"),
    )


# BPE-ish pre-tokenization classes (the GPT-2 pattern's shape without
# lookahead, so one regex works identically in Java and RE2): letter
# runs, digit runs, runs of other non-space symbols.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-token count: how many letter/digit/symbol runs a
    subword tokenizer would see (the cheap proxy for LLM token cost —
    whitespace counting undercounts code/punctuation-heavy text)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_bpe_distinct"),
        (F.length("text").cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")).alias(
            "chars_per_token"
        ),
    )


def t_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, uniqueness, mean token length.

    Composite score = 0.3*stopword + 0.4*unique + 0.3*min(len/8, 1);
    every term is exact integer counting followed by IEEE double
    arithmetic — bit-identical across engines.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("__toks", _tokens())
    toks = F.col("__toks")
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    ).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    mean_len = (F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")) / n_tok
    stop_ratio = n_stop / n_tok
    uniq_ratio = n_uniq / n_tok
    score = (
        F.lit(0.3) * stop_ratio
        + F.lit(0.4) * uniq_ratio
        + F.lit(0.3) * F.least(mean_len / F.lit(8.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 9).alias("stopword_ratio"),
        F.round(uniq_ratio, 9).alias("uniq_ratio"),
        F.round(mean_len, 9).alias("mean_token_len"),
        F.round(score, 9).alias("quality_score"),
    )


def t_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic tie-break order."""
    docs = load_table(spark, sf_dir, "documents", fanout=True).withColumn(
        "__toks", _tokens()  # split once; five marker scans reuse it
    )
    toks = F.col("__toks")

    def marker_count(markers: tuple[str, ...]):
        # closure, not a default arg: a 2-arg lambda would be treated
        # as pyspark's (element, index) form
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in LANG_MARKERS.items()}
    best = scores[_LANG_ORDER[0]]
    pred = F.lit(_LANG_ORDER[0])
    for lang in _LANG_ORDER[1:]:
        is_better = scores[lang] > best
        pred = F.when(is_better, F.lit(lang)).otherwise(pred)
        best = F.when(is_better, scores[lang]).otherwise(best)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.cast("bigint").alias("marker_hits"),
    )


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling fingerprint:
    ``sum((i+1) * md5_int32(token_i))`` — order-sensitive, overflow-safe
    (< 2^51 for realistic docs), reproducible in any engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    weighted = F.transform(toks, lambda x, i: (i + F.lit(1)).cast("bigint") * md5_int32(x))
    fp = F.aggregate(weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return docs.select("doc_id", fp.alias("fingerprint"))


TFIDF_TOP = 3


def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` most characteristic terms per document by
    tf × (N/df) — the log-free TF-IDF variant (rank-equivalent to the
    log form for fixed N, and exactly reproducible cross-engine where
    ``ln`` is libm-dependent).

    Plan: explode → (doc,term) count → term document-frequency agg →
    broadcast N → per-doc top-k window. Shuffles only on (doc,term),
    term, and doc_id. The vocabulary relation is Zipf-small relative to
    the corpus, and per-doc window state is K rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
                9,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP)
        .transform(ordered_result, "doc_id", "rank")
    )


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction, most-frequent-bigram fraction, adjacent-repeat fraction
    (Rae et al. 2021, "Scaling Language Models", App. A quality
    filters — repetitious text is the strongest single web-quality
    signal).

    Entirely array algebra on one scan — NO shuffle: the top-bigram
    count is the longest run in the *sorted* bigram array, computed by
    a single-pass ``aggregate`` fold instead of explode + groupBy, so
    the operator keeps its per-doc cost O(n log n) and ships nothing.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("__toks", _tokens())
    n = F.size(F.col("__toks"))
    n_uniq = F.size(F.array_distinct(F.col("__toks")))
    bigrams = F.expr(
        "transform(slice(__toks, 1, size(__toks) - 1),"
        " (x, i) -> concat(x, ' ', __toks[i + 1]))"
    )
    top_run = F.expr(
        "aggregate(array_sort(transform(slice(__toks, 1, size(__toks) - 1),"
        " (x, i) -> concat(x, ' ', __toks[i + 1]))),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(acc.prev is not null and x = acc.prev, acc.run + 1, 1L),"
        "   'best', greatest(acc.best,"
        "       if(acc.prev is not null and x = acc.prev, acc.run + 1, 1L))),"
        " acc -> acc.best)"
    )
    n_adj = F.aggregate(
        F.expr(
            "transform(slice(__toks, 1, size(__toks) - 1),"
            " (x, i) -> if(x = __toks[i + 1], 1L, 0L))"
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nb = (n - F.lit(1)).cast("double")  # bigram count
    guard = n > F.lit(1)
    return docs.select(
        "doc_id",
        F.round(
            F.lit(1.0) - n_uniq.cast("double") / n.cast("double"), 9
        ).alias("dup_word_frac"),
        F.round(
            F.when(guard, top_run.cast("double") / nb).otherwise(F.lit(0.0)), 9
        ).alias("top_bigram_frac"),
        F.round(
            F.when(guard, n_adj.cast("double") / nb).otherwise(F.lit(0.0)), 9
        ).alias("adjacent_repeat_frac"),
        F.size(F.array_distinct(bigrams)).cast("bigint").alias("n_distinct_bigrams"),
    )


# PII patterns chosen to parse identically under Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no backrefs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}-[0-9]{4}\b"


def redact_pii(col):
    """Redact emails, IPv4 addresses, and short phone numbers from a
    string column — the standard scrub pass before training-data
    release. Order matters: emails first (their local part may embed
    digits), then IPs (dotted quads would otherwise half-match the
    phone pattern), then phones."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IP, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def t_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit: deterministically inject an email, an IP
    and a phone number into each document (the corpus itself is
    synthetic-clean), then count and redact them. Single scan, no
    shuffle, built-in regex only."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    d = docs.select("doc_id", dirty.alias("dirty"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("dirty"), F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("dirty"), F.lit(PII_IP)).cast("bigint").alias("n_ips"),
        F.regexp_count(F.col("dirty"), F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        redact_pii(F.col("dirty")).alias("redacted"),
    )


def t_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate signal (near-0 = repeated filler, ~4.x bits
    = natural English, higher = random noise).

    Built entirely from array higher-order functions, no explode, no
    shuffle, SF-linear. Single-pass sorted-run counting: sort the char
    array once, find run starts with an indexed filter (O(1) ``F.get``
    per element), and each run's length IS that character's count —
    O(len log len) per doc instead of the earlier
    O(distinct_chars × len) distinct×filter-count fold, which was the
    slowest map stage in the fleet for long high-alphabet docs. Runs
    come out in sorted-char order, so the fold adds the same float
    sequence in the same order as the DuckDB oracle — bit-identical
    doubles, exact hash match.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # Each stage materializes its array as a PROJECTED COLUMN before any
    # lambda references it: a lambda body that captures a full
    # expression tree (e.g. array_sort(split(...))) is re-evaluated per
    # element by the HOF interpreter — O(n² log n). Attribute refs are
    # evaluated once per row; multi-use keeps CollapseProject from
    # re-inlining them.
    d = docs.select("doc_id", F.array_sort(F.split(F.col("text"), "")).alias("cs"))
    d = d.select("doc_id", "cs", F.size("cs").alias("n"))
    # 0-based indices where a new run (distinct char) begins; F.get is
    # 0-based and null-safe out of bounds (no ANSI element_at error)
    d = d.select(
        "doc_id",
        "n",
        F.filter(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: (i == 0) | (F.get(F.col("cs"), i) != F.get(F.col("cs"), i - 1)),
        ).alias("starts"),
    )
    # run length = next start (or n) - this start
    d = d.select(
        "doc_id",
        "n",
        F.transform(
            F.col("starts"),
            lambda s, j: (
                F.coalesce(F.get(F.col("starts"), j + 1), F.col("n")) - s
            ).cast("double"),
        ).alias("counts"),
    )
    nd = F.col("n").cast("double")
    # entropy in bits: -sum p*log2 p
    ent = -F.aggregate(
        F.col("counts"),
        F.lit(0.0),
        lambda acc, c: acc + (c / nd) * F.log2(c / nd),
    )
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars_split"),
        F.round(ent, 9).alias("char_entropy_bits"),
    )


def t_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional log-probability — the
    n-gram-LM fluency score (KenLM-style corpus filtering, Laplace
    add-one smoothing): ``p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)``. Unlike
    the unigram scorer this rates TRANSITIONS, so shuffled-word salad
    scores low even when every individual token is common.

    Plan shape, all SF-linear keyed shuffles: bigrams come from a
    zero-shuffle ``zip_with`` over each doc's token array; corpus
    bigram counts, context counts (bigrams starting with w1), and the
    unigram vocabulary size V are three aggs over that one exploded
    relation; scoring joins per-doc bigram counts back on (w1,w2) and
    w1 (AQE broadcasts when the model fits — at 100 TB both model
    relations shard by key instead). The per-doc float fold runs over
    the bigram-sorted list so both engines sum identical doubles in
    identical order (the ``t_unigram_logprob`` exactness trick).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    bg = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(t, 1, size(t) - 1)"),
                F.expr("slice(t, 2, size(t) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    per_doc = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    j = (
        per_doc.join(c12, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "w1",
            "w2",
            "n",
            F.log(
                (F.col("c12").cast("double") + 1.0)
                / (F.col("c1").cast("double") + F.col("v"))
            ).alias("logp"),
        )
    )
    per = j.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("w1", "w2", "n", "logp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["n"].cast("double") * s["logp"],
        ).alias("sum_logp"),
    )
    return ordered_result(
        per.select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("sum_logp") / F.col("n_bigrams").cast("double"), 6
            ).alias("avg_bigram_logprob"),
        ),
        "doc_id",
    )


def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability — the perplexity-proxy
    quality signal (low mean logprob = rare-token soup / OCR noise;
    high = common-word boilerplate) used by corpus filters alongside
    heuristic quality scores.

    Two keyed shuffles, both SF-linear: corpus unigram counts, then a
    token join back to per-doc counts (AQE picks broadcast when the
    vocabulary fits). The per-doc float fold runs over the token-sorted
    list so both engines sum the same doubles in the same order —
    oracle-exact like ``t_entropy``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = corpus.agg(F.sum("c").cast("double").alias("total"))
    per_doc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    j = (
        per_doc.join(corpus, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "tok",
            "n",
            F.log(F.col("c").cast("double") / F.col("total")).alias("logp"),
        )
    )
    per = j.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tok", "n", "logp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["n"].cast("double") * s["logp"],
        ).alias("sum_logp"),
    )
    return ordered_result(
        per.select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("sum_logp") / F.col("n_tokens").cast("double"), 6
            ).alias("avg_logprob"),
        ),
        "doc_id",
    )


# BPE tokenizer training (Sennrich et al., ACL 2016): learn the top-K
# merge rules from corpus character statistics. The distributed shape
# every tokenizer trainer uses: ONE corpus-linear word-count agg, then
# every iteration runs over the vocab-sized (word, count) relation —
# at 100 TB the corpus is touched once, the training loop never is.
BPE_MERGES = 6


def _bpe_trained_state(spark: SparkSession, sf_dir: str):
    """(merges_df, vocab_df) for the CROSS-QUERY consumer only —
    trained once per (session, sf_dir) as a session artifact (query
    work, see :func:`conduit_spark.plans.session_artifact`): a
    production DAG trains a tokenizer once and every downstream
    tokenize pass reads the published merge table.

    The timed trainer :func:`t_bpe_train` never reads it (r15: its
    number measures training). Only :func:`t_bpe_encode`, whose
    operator under test APPLIES the vocab, does; its first call per
    session pays the training. Deterministic training makes the
    shared state bit-identical to inline training. Plan-audit mode
    builds fresh so the audit sees the full DAG."""
    from conduit_spark.plans import barriers_suspended, session_artifact

    if barriers_suspended():
        return _bpe_merges_vocab(spark, sf_dir)

    def write(base: str) -> None:
        out, vocab = _bpe_merges_vocab(spark, sf_dir)
        out.write.mode("overwrite").parquet(base + "/merges")
        vocab.write.mode("overwrite").parquet(base + "/vocab")

    base = session_artifact(spark, "bpe", sf_dir, write)
    return (
        spark.read.parquet(base + "/merges"),
        spark.read.parquet(base + "/vocab"),
    )


def _bpe_merges_vocab(spark: SparkSession, sf_dir: str):
    """The live training DAG: (merge table, final vocab)."""
    merges, vocab = _bpe_learn(spark, sf_dir)
    out = spark.createDataFrame(
        merges,
        "merge_rank bigint, left_sym string, right_sym string, "
        "pair_count bigint",
    )
    return out, vocab


def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``BPE_MERGES`` byte-pair merges (rank, left_sym,
    right_sym, pair_count) learned from the corpus.

    Symbol sequences are kept as wrapped strings ``(h)(e)(l)(l)(o)``
    so applying a merge is ONE literal ``replace`` of ``(a)(b)`` with
    ``(ab)`` — the pattern starts and ends exactly on symbol
    boundaries and shares no characters with an adjacent match, so a
    single left-to-right replace pass IS the canonical greedy
    non-overlapping merge (including odd-length same-symbol runs:
    ``aaaaa`` -> ``aa|aa|a``), with byte-identical semantics in Spark
    and DuckDB. Ties break (count desc, left asc, right asc). Words
    are restricted to ``[A-Za-z0-9]+`` so the wrapper chars can never
    collide with symbol text. Per-iteration relations are
    vocab-sized and checkpointed (the d_pagerank loop discipline), so
    the unrolled plan stays flat.
    """
    # r15: ALWAYS the live training DAG — never the trained-state
    # cache (VERDICT r14 item 1: a cached read under the bench's
    # min-of-2 reported a 6-row parquet scan as "training"). Every
    # invocation of this query PAYS the K merge iterations.
    merged, _ = _bpe_merges_vocab(spark, sf_dir)
    return merged.transform(ordered_result, "merge_rank")


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the K merge iterations; returns (the merge rows as plain
    tuples, the final vocab relation (w, s, wc) with every merge
    applied) — shared by the trainer and the encoder.

    r15 (guide §1.2 — the per-round fixed cost IS the bottleneck at
    fixture scale): each round's best pair comes to the DRIVER as one
    argmax row (the smp_coreset / Lloyd pattern — O(1) driver state),
    and the merge is applied to the vocab relation as a parsed string
    LITERAL, replacing the per-round 1-row checkpoint + broadcast
    crossJoin (two extra jobs per merge). The per-round argmax runs
    AQE-free: its exchange carries symbol-pair partial counts
    (Zipf-vocab-sized at any corpus scale), so AQE's per-stage jobs
    bought nothing. Training math, tie-breaks and results are
    bit-identical; the corpus is still touched exactly once."""
    from conduit_spark.analytics import tiny_loop_aqe_off

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    w_rel = barrier(words.select(
        "w", F.regexp_replace(F.col("w"), "(.)", "($1)").alias("s"), "wc"
    ), eager=False)
    merges: list[tuple] = []
    with tiny_loop_aqe_off(spark):
        for t in range(1, BPE_MERGES + 1):
            sy = F.split(
                F.expr("substring(s, 2, length(s) - 2)"), "\\)\\("
            )
            pairs = (
                w_rel.select(sy.alias("sy"), "wc")
                .filter(F.size("sy") >= 2)
                .select(
                    F.explode(
                        F.zip_with(
                            F.expr("slice(sy, 1, size(sy) - 1)"),
                            F.expr("slice(sy, 2, size(sy) - 1)"),
                            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                        )
                    ).alias("z"),
                    "wc",
                )
                .groupBy(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
                .agg(F.sum("wc").alias("cnt"))
            )
            top = (
                pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )[0]
            a, b, cnt = top["a"], top["b"], int(top["cnt"])
            merges.append((t, a, b, cnt))
            # words are [A-Za-z0-9]+ by construction, so the merge pair
            # is literal-safe (no regex/quote metacharacters)
            w_rel = w_rel.select(
                "w",
                F.replace(
                    F.col("s"), F.lit(f"({a})({b})"), F.lit(f"({a}{b})")
                ).alias("s"),
                "wc",
            ).transform(iteration_barrier, eager=False)
            # in-loop: w_rel is referenced by the next round's pair
            # count — an unpinned tree doubles per merge
    return merges, w_rel


def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges corpus-wide: per-document real BPE
    token count and chars-per-token compression.

    The scale-smart inference shape: the K merges are applied ONCE to
    the distinct-word vocabulary (the trainer loop's final relation),
    then the corpus just joins each word occurrence to its symbol
    count — the 100 TB corpus is never string-rewritten, only the
    Zipf-small vocab is. Non-alphanumeric words fall outside the
    trained vocab and count as one token each (the single-symbol
    fallback every tokenizer has). The trained vocab comes from the
    session's trained-state artifact (:func:`_bpe_trained_state` —
    the first consumer per session pays the training; the trainer
    query itself never reads it).
    """
    _, vocab = _bpe_trained_state(spark, sf_dir)
    word_tokens = vocab.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\)\\(")
        ).cast("bigint").alias("n_sym"),
    )
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    occ = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    j = occ.join(word_tokens, "w", "left").select(
        "doc_id",
        F.coalesce(F.col("n_sym"), F.lit(1)).alias("n_sym"),
        F.length("w").cast("bigint").alias("n_chars"),
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_word_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_word_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
                9,
            ).alias("chars_per_token"),
        )
        .transform(ordered_result, "doc_id")
    )


# BM25 retrieval (Robertson et al.; the Lucene-form idf that is always
# positive). The lexical-retrieval baseline every RAG/hybrid-search
# stack runs next to its ANN path.
BM25_QUERY = ("merge", "spark", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def bm25_scores(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, n_query_terms, bm25) for every doc matching >=1 query
    term — ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` summed
    over query terms, ``idf = ln(1 + (N-df+0.5)/(df+0.5))``.

    Plan shape: doc lengths are one keyed agg over the token explode;
    term frequencies only materialize for the |q| query terms (the
    ``isin`` filter cuts the explode before any shuffle); document
    frequencies reduce to a |q|-row relation joined broadcast; the
    corpus stats (N, avgdl) are one scalar agg crossed in. The per-doc
    sum folds term scores in term-sorted order so both engines add the
    same doubles in the same sequence. All SF-linear, no windows,
    nothing quadratic. Reused by ``rag.rag_hybrid_rrf`` as the lexical
    leg of hybrid retrieval.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    # r14: doc length in-row — ``size(split(...))`` is exactly the
    # explode's per-doc row count (split of "" yields [""], count 1),
    # so the corpus-wide token explode + groupBy(doc_id) exchange the
    # r1 shape paid for lengths disappears; only the |q|-term-filtered
    # explode below ever shuffles.
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    num = F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
    )
    j = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", (idf * num / den).alias("s"))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_query_terms"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "s"))),
                F.lit(0.0),
                lambda acc, t: acc + t["s"],
            ).alias("score"),
        )
        .select(
            "doc_id",
            "n_query_terms",
            F.round(F.col("score"), 6).alias("bm25"),
        )
    )


def bm25_scores_multi(
    docs: DataFrame, queries: tuple[tuple[int, tuple[str, ...]], ...]
) -> DataFrame:
    """(query_id, doc_id, n_query_terms, bm25) for EVERY query in one
    pass — the batched form of :func:`bm25_scores` (r14, guide §2.4):
    the per-leg loop the RAG miners ran scanned the corpus once per
    query (token explode + tf agg + dl join, ×|Q|); here ONE explode
    filtered by the union term set feeds one (doc, tok) tf relation,
    and a broadcast (tok → query_id) mapping fans each term row out to
    the queries that reference it. Every per-leg value is reproduced
    exactly: df/tf/dl/avgdl/N don't depend on which query references a
    term, and the per-(query, doc) fold sums the identical term-sorted
    structs the single-query fold sorts — so the legs' floats are
    bit-equal and the oracles are untouched. At 100 TB this is the
    "wider isin" batching the per-leg docstring promised: corpus-sized
    work is ONE scan regardless of |Q|."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    all_terms = sorted({t for _, ts in queries for t in ts})
    tf = (
        toks.filter(F.col("tok").isin(*all_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # (tok → query_id) fan-out as a literal 1-row explode (no driver
    # table round trip); a term shared by two queries scores in both
    qmap = (
        docs.sparkSession.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(qid).cast("bigint").alias("query_id"),
                            F.lit(t).alias("tok"),
                        )
                        for qid, ts in queries
                        for t in ts
                    ]
                )
            ).alias("qt")
        )
        .select("qt.query_id", "qt.tok")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    num = F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
    )
    j = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(qmap), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "tok", (idf * num / den).alias("s"))
    )
    return (
        j.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_query_terms"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "s"))),
                F.lit(0.0),
                lambda acc, t: acc + t["s"],
            ).alias("score"),
        )
        .select(
            "query_id",
            "doc_id",
            "n_query_terms",
            F.round(F.col("score"), 6).alias("bm25"),
        )
    )


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed query (see
    :func:`bm25_scores` for the scoring math and plan shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(docs, BM25_QUERY)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


LR_WEIGHT_MOD = 2001  # hashed weight in [-1000, 1000] (÷1000 at the end)
LR_THRESHOLD = 0.5  # keep gate on the sigmoid score


def t_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference at scale (the FineWeb-Edu /
    DCLM-fastText pattern): score every document with a linear model
    over hashed bag-of-words features and gate on the sigmoid score.

    The model here is a deterministic stand-in — weight(token) =
    ``(md5_int32(token) % 2001 - 1000) / 1000`` — because the container
    has no trained artifact; in production the weight table is a
    broadcast map or the hash trick exactly as written (feature id =
    hash(token), weights indexed from a broadcast array), which is how
    fastText/linear quality filters actually run over 100 TB.

    Plan/determinism shape: zero shuffles — one projection with array
    higher-order functions. The per-doc accumulation sums INTEGER
    weights (exact, order-insensitive) and converts to float ONCE at
    the end, so Spark's fold order can never drift from DuckDB's; the
    one transcendental (exp in the sigmoid) is rounded to 9 digits on
    both sides.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    wsum = F.aggregate(
        F.transform(
            F.col("toks"),
            lambda t: md5_int32(t) % LR_WEIGHT_MOD - F.lit(1000),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = d.select("doc_id", F.size("toks").alias("n_tok"), wsum.alias("wsum"))
    logit = F.col("wsum").cast("double") / (
        F.lit(1000.0) * F.col("n_tok").cast("double")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return d.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.round(logit, 9).alias("logit"),
        F.round(score, 9).alias("score"),
        # sigmoid >= 0.5 <=> logit >= 0 <=> integer wsum >= 0: the keep
        # flag is decided in exact integer arithmetic, float-proof
        (F.col("wsum") >= 0).cast("int").alias("keep"),
    )


def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    word shingles whose FIRST appearance (minimum doc_id — the
    corpus's arrival order) is this document. The standard
    train-set-freshness score: novelty ≈ 1 means new content,
    novelty ≈ 0 means everything was seen before (round-9 addition to
    SURVEY §2's text-analysis family; complements d_span_dedup, which
    finds the duplicated spans rather than scoring the docs).

    Two shuffles, both mergeable: a gram-keyed min-agg for first
    owners (partial min map-side), then the gram-keyed equi-join back
    — each shingle row matches EXACTLY one first-owner row, so the
    join output is linear in the shingle relation (no F² hot-gram
    blowup; hot grams are fine here, unlike the pair queries), and a
    final doc-keyed count agg. Reuses dedup's shingle relation so the
    Spark side and the DuckDB oracle shingle identically.

    r15 measured rejection: a "shuffle only partial aggregates" rewrite
    (n_novel counted from the (x, min doc_id) relation re-keyed by the
    winning doc + a doc-keyed left join, no gram-keyed join back) was
    byte-identical and a wash at sf0.1 (0.96-1.39s vs 1.21-1.34s
    interleaved same-window) but REGRESSED ~8x at the sf1 probe
    (28.3s vs 3.35s for this shape, same weather window) — the
    two-level aggregate chain lost to the join the planner picks here.
    The join shape stands; do not re-attempt without an sf1 ratio."""
    from conduit_spark.analytics.dedup import _shingles_df

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    sh = barrier(_shingles_df(docs))
    first = sh.groupBy("x").agg(F.min("doc_id").alias("first_id"))
    out = (
        sh.join(first, "x")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    novelty = F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    return ordered_result(
        out.select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            F.round(novelty, 9).alias("novelty"),
        ),
        "doc_id",
    )


PMI_MIN_COUNT = 5  # bigram count floor (Church & Hanks' sparsity guard)
PMI_TOP_K = 20


def t_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation extraction by pointwise mutual
    information (Church & Hanks, CL 1990) — the classic "which word
    pairs co-occur far more than chance" analysis used for phrase
    mining, tokenizer-merge candidates, and stopword-pair diagnostics:
    ``PMI(w1, w2) = ln(c12 · N / (c1 · c2))`` over the corpus bigram
    relation (c1/c2 = the word's count in first/second position, N =
    total bigrams — all four counts from ONE relation, so the measure
    is self-consistent), gated by a ``PMI_MIN_COUNT`` occurrence floor
    (raw PMI promotes hapax pairs), top ``PMI_TOP_K`` emitted.

    Exactness: counts are integers; the single float expression
    ``ln((c12 · N) / (c1 · c2))`` has identical structure in both
    engines (cast-to-double, one multiply, one divide, one ln) and
    ordering is on the ROUNDED pmi + the pair, so ties break
    deterministically.

    Plan shape: one zip_with bigram explode (zero-shuffle per row),
    three keyed count-aggs over it (map-side partials), two joins onto
    the floor-filtered pair relation (vocab-sized sides — AQE
    broadcasts when they fit; at 100 TB they shard by key), a 1-row N
    cross, and a TakeOrdered(K). No windows, no corpus self-join.
    """
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # token array bound ONCE per row via the 1-element-array lambda
    # capture (the word_grams trick; ADVICE r13: the projected-column
    # form re-tokenized per reference site through CollapseProject).
    # No size filter needed: a 1-token doc yields two empty slices →
    # empty zip_with → explode drops the row, identical to the old
    # ``size(t) >= 2`` gate (split never returns an empty array).
    bg = docs.select(
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), t -> "
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2)))[0]"
            )
        ).alias("z")
    ).select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    bg = barrier(bg)  # feeds all four counts
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n = bg.agg(F.count(F.lit(1)).alias("n"))
    pmi = F.log(
        (F.col("c12").cast("double") * F.col("n").cast("double"))
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(pmi, 9).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )


QUERIES = {
    "t_pmi_collocations": t_pmi_collocations,
    "t_token_count": t_token_count,
    "t_ngram_novelty": t_ngram_novelty,
    "t_quality_lr": t_quality_lr,
    "t_unigram_logprob": t_unigram_logprob,
    "t_bm25_topk": t_bm25_topk,
    "t_bpe_train": t_bpe_train,
    "t_bpe_encode": t_bpe_encode,
    "t_bigram_lm": t_bigram_lm,
    "t_entropy": t_entropy,
    "t_repetition": t_repetition,
    "t_redact_pii": t_redact_pii,
    "t_bpe_tokens": t_bpe_tokens,
    "t_quality": t_quality,
    "t_langid": t_langid,
    "t_fingerprint": t_fingerprint,
    "t_tfidf_top_terms": t_tfidf_top_terms,
}

_SQL_STOP = ",".join(f"'{w}'" for w in STOPWORDS)


def _sql_marker_count(markers: tuple[str, ...]) -> str:
    inlist = ",".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text,' '), x -> x IN ({inlist})))"


def _langid_sql() -> str:
    cases = []
    # mirror the when-chain: later languages win only on strictly greater
    expr_pred = f"'{_LANG_ORDER[0]}'"
    expr_best = _sql_marker_count(LANG_MARKERS[_LANG_ORDER[0]])
    for lang in _LANG_ORDER[1:]:
        cnt = _sql_marker_count(LANG_MARKERS[lang])
        expr_pred = f"CASE WHEN {cnt} > {expr_best} THEN '{lang}' ELSE {expr_pred} END"
        expr_best = f"CASE WHEN {cnt} > {expr_best} THEN {cnt} ELSE {expr_best} END"
    return f"""
        SELECT doc_id, lang AS labeled_lang,
               {expr_pred} AS predicted_lang,
               CAST({expr_best} AS BIGINT) AS marker_hits
        FROM documents
    """


ORACLES = {
    "t_pmi_collocations": f"""
        WITH bg AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM (SELECT string_split(text, ' ') AS t FROM documents
                  WHERE len(string_split(text, ' ')) >= 2),
                 unnest(generate_series(1, len(t) - 1)) AS u(i)),
        c12 AS (
            SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
            HAVING count(*) >= {PMI_MIN_COUNT}),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        c2 AS (SELECT w2, count(*) AS c2 FROM bg GROUP BY w2),
        n AS (SELECT count(*) AS n FROM bg)
        SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
               round(ln((CAST(c12.c12 AS DOUBLE) * CAST(n.n AS DOUBLE))
                        / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE))),
                     9) AS pmi
        FROM c12
        JOIN c1 ON c12.w1 = c1.w1
        JOIN c2 ON c12.w2 = c2.w2
        CROSS JOIN n
        ORDER BY pmi DESC, c12.w1 ASC, c12.w2 ASC
        LIMIT {PMI_TOP_K}
    """,

    "t_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        corpus AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM corpus),
        per_doc AS (
            SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2),
        j AS (
            SELECT doc_id, tok, n,
                   ln(CAST(c AS DOUBLE) / (SELECT total FROM tot)) AS logp
            FROM per_doc JOIN corpus USING (tok)),
        per AS (
            SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   list_sum(list_transform(
                       list_sort(list(struct_pack(tok := tok, n := n, logp := logp))),
                       s -> CAST(s.n AS DOUBLE) * s.logp)) AS sum_logp
            FROM j GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               round(sum_logp / CAST(n_tokens AS DOUBLE), 6) AS avg_logprob
        FROM per ORDER BY doc_id
    """,
    "t_bigram_lm": """
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 2),
        bg AS (
            SELECT doc_id,
                   unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
            FROM base),
        pairs AS (
            SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
        ctx AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
        vocab AS (
            SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        per_doc AS (
            SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
        j AS (
            SELECT doc_id, w1, w2, n,
                   ln((CAST(c12 AS DOUBLE) + 1.0)
                      / (CAST(c1 AS DOUBLE) + (SELECT v FROM vocab))) AS logp
            FROM per_doc JOIN c12 USING (w1, w2) JOIN ctx USING (w1)),
        per AS (
            SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS n_bigrams,
                   list_sum(list_transform(
                       list_sort(list(struct_pack(
                           w1 := w1, w2 := w2, n := n, logp := logp))),
                       s -> CAST(s.n AS DOUBLE) * s.logp)) AS sum_logp
            FROM j GROUP BY doc_id)
        SELECT doc_id, n_bigrams,
               round(sum_logp / CAST(n_bigrams AS DOUBLE), 6)
                   AS avg_bigram_logprob
        FROM per ORDER BY doc_id
    """,
    "t_entropy": """
        WITH t AS (
            SELECT doc_id, string_split(text, '') AS cs,
                   CAST(len(string_split(text, '')) AS DOUBLE) AS n
            FROM documents)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_chars_split,
               round(-list_sum(list_transform(
                   list_sort(list_distinct(cs)),
                   c -> (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / n)
                        * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / n)
               )), 9) AS char_entropy_bits
        FROM t
    """,
    "t_repetition": """
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n
            FROM documents),
        pos AS (
            SELECT doc_id, n, unnest(generate_series(1, n - 1)) AS g, t
            FROM base WHERE n > 1),
        bg AS (
            SELECT doc_id, n, t[g] || ' ' || t[g + 1] AS bigram,
                   CASE WHEN t[g] = t[g + 1] THEN 1 ELSE 0 END AS adj
            FROM pos),
        cnts AS (
            SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        agg AS (
            SELECT doc_id, max(c) AS topc, count(*) AS n_dbg FROM cnts GROUP BY 1),
        adjs AS (
            SELECT doc_id, sum(adj) AS nadj FROM bg GROUP BY 1)
        SELECT b.doc_id,
               round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                     / CAST(n AS DOUBLE), 9) AS dup_word_frac,
               round(COALESCE(CAST(agg.topc AS DOUBLE)
                     / CAST(n - 1 AS DOUBLE), 0.0), 9) AS top_bigram_frac,
               round(COALESCE(CAST(adjs.nadj AS DOUBLE)
                     / CAST(n - 1 AS DOUBLE), 0.0), 9) AS adjacent_repeat_frac,
               CAST(COALESCE(agg.n_dbg, 0) AS BIGINT) AS n_distinct_bigrams
        FROM base b
        LEFT JOIN agg USING (doc_id)
        LEFT JOIN adjs USING (doc_id)
    """,
    "t_redact_pii": f"""
        WITH d AS (
            SELECT doc_id,
                   text || ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@example.com or 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.1' AS dirty
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(dirty, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(dirty, '{PII_IP}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(dirty, '{PII_PHONE}')) AS BIGINT) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(dirty,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IP}', '<IP>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g') AS redacted
        FROM d
    """,
    "t_bpe_tokens": f"""
        WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(text, '{BPE_PATTERN}') AS toks,
                   length(text) AS n_chars
            FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_bpe_distinct,
               CAST(n_chars AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE)
                   AS chars_per_token
        FROM t
    """,
    "t_token_count": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               length(text) AS n_chars_actual
        FROM documents
    """,
    "t_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text,' ')) AS DOUBLE) AS n_tok,
                   CAST(len(list_filter(string_split(text,' '),
                        x -> x IN ({_SQL_STOP}))) AS DOUBLE) AS n_stop,
                   CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS n_uniq,
                   CAST(length(replace(text,' ','')) AS DOUBLE) AS n_nonspace
            FROM documents)
        SELECT doc_id,
               round(n_stop / n_tok, 9) AS stopword_ratio,
               round(n_uniq / n_tok, 9) AS uniq_ratio,
               round(n_nonspace / n_tok, 9) AS mean_token_len,
               round(0.3 * (n_stop / n_tok) + 0.4 * (n_uniq / n_tok)
                     + 0.3 * least((n_nonspace / n_tok) / 8.0, 1.0), 9) AS quality_score
        FROM t
    """,
    "t_langid": _langid_sql(),
    "t_fingerprint": f"""
        SELECT doc_id,
               CAST(list_sum(list_transform(string_split(text,' '),
                   (x, i) -> CAST(i AS BIGINT) * {sql_md5_int32('x')})) AS BIGINT) AS fingerprint
        FROM documents
    """,
    "t_tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   CAST(tf.tf AS BIGINT) AS tf, CAST(dfreq.df AS BIGINT) AS df,
                   round(CAST(tf.tf AS DOUBLE) *
                         (CAST((SELECT count(*) FROM documents) AS DOUBLE)
                          / CAST(dfreq.df AS DOUBLE)), 9) AS score
            FROM tf JOIN dfreq USING (term)),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
            ) AS BIGINT) AS rank
            FROM scored)
        SELECT doc_id, term, tf, df, score, rank
        FROM ranked WHERE rank <= {TFIDF_TOP}
        ORDER BY doc_id, rank
    """,
}

def bm25_cte_sql(terms: tuple[str, ...]) -> str:
    """CTE chain ending in ``bm25_per(doc_id, n_query_terms, bm25)`` —
    the exact SQL mirror of :func:`bm25_scores`, reused by the hybrid
    RRF oracle in ``rag``."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        FROM dl),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE tok IN ({tlist}) GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    bm25_j AS (
        SELECT t.doc_id, t.tok,
               ln(1.0 + (s.n_docs - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0})
               / (CAST(t.tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}
                  + {BM25_B} * CAST(l.dl AS DOUBLE) / s.avgdl)) AS s
        FROM tf t
        JOIN dfreq d USING (tok)
        JOIN dl l USING (doc_id), stats s),
    bm25_per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_query_terms,
               round(list_sum(list_transform(
                   list_sort(list(struct_pack(tok := tok, s := s))),
                   e -> e.s)), 6) AS bm25
        FROM bm25_j GROUP BY doc_id)"""


ORACLES["t_bm25_topk"] = f"""
    WITH {bm25_cte_sql(BM25_QUERY)}
    SELECT doc_id, n_query_terms, bm25
    FROM bm25_per
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {BM25_TOPK}
"""


def _bpe_stages() -> list:
    """Shared CTE stages w0..wK / pairs_t / m_t — the SQL mirror of
    ``_bpe_learn`` (``w`` carried through so the encoder can join the
    final vocab back to the corpus)."""

    def pairs_cte(t: int) -> str:
        return f"""pairs{t} AS (
        SELECT z[1] AS a, z[2] AS b, sum(wc) AS cnt
        FROM (
            SELECT unnest(list_zip(sy[1:len(sy)-1], sy[2:len(sy)])) AS z, wc
            FROM (
                SELECT string_split(s[2:length(s)-1], ')(') AS sy, wc
                FROM w{t - 1})
            WHERE len(sy) >= 2)
        GROUP BY 1, 2),
    m{t} AS (
        SELECT CAST({t} AS BIGINT) AS merge_rank,
               a AS left_sym, b AS right_sym,
               CAST(cnt AS BIGINT) AS pair_count
        FROM pairs{t}
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"""

    def apply_cte(t: int) -> str:
        return f"""w{t} AS (
        SELECT w, replace(s, '(' || m.left_sym || ')(' || m.right_sym || ')',
                             '(' || m.left_sym || m.right_sym || ')') AS s, wc
        FROM w{t - 1}, m{t} m)"""

    stages = [
        """w0 AS (
        SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS s,
               CAST(wc AS BIGINT) AS wc
        FROM (
            SELECT w, count(*) AS wc
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE regexp_matches(w, '^[A-Za-z0-9]+$')
            GROUP BY w))"""
    ]
    for t in range(1, BPE_MERGES + 1):
        stages.append(pairs_cte(t))
        stages.append(apply_cte(t))
    return stages


def _bpe_train_sql() -> str:
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM m{t}" for t in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_stages())
        + f"\n    {union}\n    ORDER BY merge_rank"
    )


def _bpe_encode_sql() -> str:
    k = BPE_MERGES
    tail = f""",
    vocab_tokens AS (
        SELECT w, CAST(len(string_split(s[2:length(s)-1], ')(')) AS BIGINT)
                   AS n_sym
        FROM w{k}),
    occ AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    j AS (
        SELECT doc_id,
               coalesce(v.n_sym, 1) AS n_sym,
               CAST(length(o.w) AS BIGINT) AS n_chars
        FROM occ o LEFT JOIN vocab_tokens v USING (w))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(n_chars) AS DOUBLE)
                 / CAST(sum(n_sym) AS DOUBLE), 9) AS chars_per_token
    FROM j GROUP BY doc_id ORDER BY doc_id"""
    return "WITH " + ",\n    ".join(_bpe_stages()) + tail


ORACLES["t_bpe_train"] = _bpe_train_sql()
ORACLES["t_bpe_encode"] = _bpe_encode_sql()

ORACLES["t_quality_lr"] = f"""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               list_sum(list_transform(
                   string_split(text, ' '),
                   t -> {sql_md5_int32('t')} % {LR_WEIGHT_MOD} - 1000
               )) AS wsum
        FROM documents)
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(CAST(wsum AS DOUBLE) / (1000.0 * n_tok), 9) AS logit,
           round(1.0 / (1.0 + exp(-(CAST(wsum AS DOUBLE) / (1000.0 * n_tok)))), 9)
               AS score,
           CASE WHEN wsum >= 0 THEN 1 ELSE 0 END AS keep
    FROM s
"""


def _novelty_sql() -> str:
    # late import: dedup owns the canonical shingle construction (the
    # Spark side reuses dedup._shingles_df, so both engines shingle
    # identically); importing at call-build time keeps module import
    # order irrelevant
    from conduit_spark.analytics.dedup import _SHINGLE_SQL

    return f"""
        WITH sh AS ({_SHINGLE_SQL}),
        first AS (SELECT x, min(doc_id) AS first_id FROM sh GROUP BY x)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(CAST(sum(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0
                              END) AS DOUBLE) / count(*), 9) AS novelty
        FROM sh s JOIN first f ON s.x = f.x
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """


ORACLES["t_ngram_novelty"] = _novelty_sql()
