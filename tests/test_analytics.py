from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from conduit_spark.analytics import (
    chunking,
    curation,
    dedup,
    multimodal,
    quality_checks,
    sampling,
    similarity,
    sketches,
    text,
    webdata,
)
from tests.oracle_util import compare_spark_duckdb

MODULES = {
    "chunking": chunking,
    "text": text,
    "dedup": dedup,
    "similarity": similarity,
    "multimodal": multimodal,
    "sampling": sampling,
    "sketches": sketches,
    "curation": curation,
    "webdata": webdata,
    "quality_checks": quality_checks,
}

CASES = [
    (mod_name, qname)
    for mod_name, mod in MODULES.items()
    for qname in sorted(mod.QUERIES)
]


@pytest.mark.parametrize("mod_name,name", CASES, ids=[c[1] for c in CASES])
def test_analytics_matches_oracle(spark, sf_dir, duck, mod_name, name):
    mod = MODULES[mod_name]
    df = mod.QUERIES[name](spark, sf_dir)
    n = df.count()
    if name not in ("s_neardup_pairs", "d_minhash_lsh_pairs", "d_ngram_jaccard"):
        assert n > 0, f"{name} produced no rows — vacuous"
    compare_spark_duckdb(df, duck, mod.ORACLES[name])


def test_connected_components_multihop(spark):
    """Chain 1-2-3-4-5 plus isolated pair 10-11: label propagation must
    cross multiple hops (chain diameter 4 > 1 round) and keep disjoint
    components separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.node: r.lbl for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_failed_queries_release_their_caches(spark, sf_dir, monkeypatch):
    """A query that raises mid-way leaves the CacheManager empty: the
    shingle cache of d_ngram_jaccard / d_containment_pairs and the
    persisted edges of connected_components are released on the error
    path too, not only after a successful materialization."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # entries other tests left behind
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "load_table", lambda *_a, **_k: docs)

    def boom(*_a, **_k):
        raise RuntimeError("injected")

    monkeypatch.setattr(dedup, "ordered_result", boom)
    for query in (dedup.d_ngram_jaccard, dedup.d_containment_pairs):
        with pytest.raises(RuntimeError, match="injected"):
            query(spark, sf_dir)
        assert cache.isEmpty(), query.__name__

    monkeypatch.setattr(dedup, "iteration_barrier", boom)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="injected"):
        dedup.connected_components(pairs)
    assert cache.isEmpty()


def test_overlapping_tiny_loops_leave_aqe_on(spark):
    """Two threads run tiny_loop_aqe_off blocks that would overlap as
    A enters, B enters, A exits, B exits. Unserialized, B saves A's
    "false" and restores it last, leaving AQE off for the session; the
    loops must instead run one after the other and restore "true"."""
    import threading

    from conduit_spark.analytics import tiny_loop_aqe_off

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def loop_a():
        with tiny_loop_aqe_off(spark):
            a_in.set()
            b_in.wait(2)  # B enters here only if the loops overlap
        a_out.set()

    def loop_b():
        a_in.wait(60)
        with tiny_loop_aqe_off(spark):
            b_in.set()
            a_out.wait(60)

    threads = [threading.Thread(target=f) for f in (loop_a, loop_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    try:
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "true")


def test_rag_end_to_end(spark, sf_dir):
    from conduit_spark.analytics import rag

    rows = rag.rag_ingest_retrieve(spark, sf_dir).collect()
    assert len(rows) == rag.TOP_K
    assert all(-1.0 <= r.score <= 1.0 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # deterministic across runs (fake transport is content-hashed)
    rows2 = rag.rag_ingest_retrieve(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_ngram_df_cap_bounds_hot_shingle_blowup(spark, tmp_path, monkeypatch):
    """Pathological fixture: one boilerplate shingle shared by EVERY
    doc. Without the document-frequency cap the pair join is quadratic
    in corpus size; with it, only genuinely-similar pairs survive."""
    import pyspark.sql.functions as F

    n_docs = 150  # > NGRAM_DF_CAP (100)
    rows = [
        # common boilerplate prefix (hot shingles) + unique tail
        (i, f"terms of service apply here uniquely{i} tail{i} end{i}")
        for i in range(n_docs)
    ]
    # two true near-dups sharing their whole text
    rows.append((900, "alpha beta gamma delta epsilon zeta"))
    rows.append((901, "alpha beta gamma delta epsilon zeta extra"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)

    orig = dedup.load_table
    monkeypatch.setattr(
        dedup,
        "load_table",
        lambda sp, d, name, **kw: sp.read.parquet(path),
    )
    try:
        out = dedup.d_ngram_jaccard(spark, str(tmp_path)).collect()
    finally:
        monkeypatch.setattr(dedup, "load_table", orig)
    pairs = {(r.id_a, r.id_b) for r in out}
    # the 150 boilerplate docs share only hot (capped) shingles -> no
    # pairs among them; the true near-dup pair survives
    assert (900, 901) in pairs
    assert all(a >= 900 for a, b in pairs), pairs


def test_hot_broadcast_cap_fallback_is_equivalent(
    spark, tmp_path, monkeypatch
):
    """r15 scale guard (VERDICT r14 item 5): when the hot-shingle list
    exceeds ``HOT_BROADCAST_CAP``, ``_capped_shingle_stats`` must swap
    the single-broadcast-array in-row count for the exploded anti-join
    count — with IDENTICAL query results. Forcing the cap to 0 drives
    every hot set down the fallback path on a fixture whose hot set is
    non-empty (the boilerplate corpus above)."""
    n_docs = 120  # > NGRAM_DF_CAP so the hot set is non-empty
    rows = [
        (i, f"terms of service apply here uniquely{i} tail{i} end{i}")
        for i in range(n_docs)
    ]
    rows.append((900, "alpha beta gamma delta epsilon zeta"))
    rows.append((901, "alpha beta gamma delta epsilon zeta extra"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        dedup,
        "load_table",
        lambda sp, d, name, **kw: sp.read.parquet(path),
    )
    fast = {
        tuple(r)
        for r in dedup.d_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    cont_fast = {
        tuple(r)
        for r in dedup.d_containment_pairs(spark, str(tmp_path)).collect()
    }
    monkeypatch.setattr(dedup, "HOT_BROADCAST_CAP", 0)
    slow = {
        tuple(r)
        for r in dedup.d_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    cont_slow = {
        tuple(r)
        for r in dedup.d_containment_pairs(spark, str(tmp_path)).collect()
    }
    assert fast == slow and fast  # same rows, and the fixture has some
    assert cont_fast == cont_slow


def test_quality_lr_matches_naive_model(spark, tmp_path, monkeypatch):
    """Score a 3-doc fixture against an independent pure-Python
    implementation of the hashed-weight linear model."""
    import hashlib
    import math

    rows = [
        (1, "alpha beta gamma"),
        (2, "one two three four five six"),
        (3, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    orig = text.load_table
    monkeypatch.setattr(text, "load_table", lambda sp, d, name, **kw: sp.read.parquet(path))
    try:
        got = {r.doc_id: r for r in text.t_quality_lr(spark, str(tmp_path)).collect()}
    finally:
        monkeypatch.setattr(text, "load_table", orig)

    def w(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        return h % text.LR_WEIGHT_MOD - 1000

    for doc_id, txt in rows:
        toks = txt.split(" ")
        wsum = sum(w(t) for t in toks)
        logit = wsum / (1000.0 * len(toks))
        score = 1.0 / (1.0 + math.exp(-logit))
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.logit - logit) < 1e-8
        assert abs(r.score - score) < 1e-8
        assert r.keep == (1 if wsum >= 0 else 0)


def test_redact_pii_patterns(spark):
    """The scrub handles multiple occurrences, leaves clean text alone,
    and applies email-before-ip-before-phone ordering."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            ("a@b.com then c.d-e@sub.domain.org", "<EMAIL> then <EMAIL>"),
            ("ip 10.0.0.1 and 192.168.255.3 end", "ip <IP> and <IP> end"),
            ("call 555-0199 or 555-0200", "call <PHONE> or <PHONE>"),
            ("clean text stays clean", "clean text stays clean"),
            ("mix a@b.co 1.2.3.4 555-1234", "mix <EMAIL> <IP> <PHONE>"),
        ],
        "dirty string, want string",
    )
    rows = df.select(text.redact_pii(F.col("dirty")).alias("got"), "want").collect()
    for r in rows:
        assert r.got == r.want


def test_repetition_signals_on_crafted_docs(spark, tmp_path):
    """A fully-repetitive doc maxes the signals; an all-distinct doc
    zeroes them."""
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "en", "s", 19),
            (2, "all words here differ", "en", "s", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = tmp_path / "documents.parquet"
    docs.write.parquet(str(out))
    got = {
        r.doc_id: r
        for r in text.t_repetition(spark, str(tmp_path)).collect()
    }
    # doc 1: 4 tokens, 1 distinct -> dup 0.75; bigrams all "spam spam"
    assert got[1].dup_word_frac == 0.75
    assert got[1].top_bigram_frac == 1.0
    assert got[1].adjacent_repeat_frac == 1.0
    assert got[1].n_distinct_bigrams == 1
    # doc 2: no repetition at all
    assert got[2].dup_word_frac == 0.0
    assert got[2].top_bigram_frac == pytest.approx(1 / 3)
    assert got[2].adjacent_repeat_frac == 0.0
    assert got[2].n_distinct_bigrams == 3


def test_contamination_flags_benchmark_copies(spark, tmp_path):
    """A doc that copies a benchmark doc verbatim scores frac 1.0;
    unrelated docs are absent from the result."""
    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (0, bench_text, "en", "s", 1),            # benchmark (0 % 11 == 0)
            (1, bench_text, "en", "s", 1),            # verbatim copy -> 1.0
            (2, "one two three four five six", "en", "s", 1),  # clean
            (3, "x y z alpha beta gamma delta tail", "en", "s", 1),  # partial
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in dedup.d_contamination(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 3}
    assert got[1].contamination_frac == 1.0
    # doc 3 has 5 grams; only the "alpha beta gamma delta" window is in bench
    assert got[3].n_matched == 1
    assert got[3].n_grams == 5
    assert got[3].contamination_frac == 0.2


def test_kmv_estimate_tracks_exact(spark, sf_dir):
    """KMV-64 over ~1.2-1.5k distinct shingles should land within 40%
    of exact (k=64 -> sigma ~ 12.5%), and the sketch must degrade to
    exact when a source has < k distinct values."""
    rows = sketches.sk_kmv_distinct(spark, sf_dir).collect()
    assert rows, "no sources"
    for r in rows:
        if r.kth_hash is None:
            assert r.est_distinct == float(r.n_exact)
            assert r.rel_error == 0.0
        else:
            assert r.n_exact >= sketches.KMV_K
            assert r.rel_error < 0.4, (r.source, r.rel_error)


def test_curation_funnel_monotone(spark, sf_dir):
    rows = sorted(
        curation.cur_funnel(spark, sf_dir).collect(), key=lambda r: r.stage_idx
    )
    assert [r.stage for r in rows] == [
        "input", "quality", "dedup", "decontaminate", "sample",
    ]
    counts = [r.n_docs for r in rows]
    assert counts == sorted(counts, reverse=True), counts
    assert counts[0] > 0 and counts[-1] > 0  # non-vacuous at both ends


def test_training_shard_sink_deterministic(spark, sf_dir, tmp_path):
    from conduit_spark import sinks
    from conduit_spark.analytics.curation import shard_of
    from conduit_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    sinks.training_shard_sink(docs, out, n_shards=8)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # membership follows the md5 rule for every row
    bad = back.filter(
        F.col("shard") != shard_of(F.col("doc_id"), 8)
    ).count()
    assert bad == 0
    # one data file per shard (repartition-on-shard, not tasks×shards)
    import glob, os
    for d in glob.glob(os.path.join(out, "shard=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # rerun writes the identical multiset per shard
    out2 = str(tmp_path / "shards2")
    sinks.training_shard_sink(docs, out2, n_shards=8)
    a = sorted(r.doc_id for r in spark.read.parquet(out).filter("shard=3").collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out2).filter("shard=3").collect())
    assert a == b and len(a) > 0


def test_char_entropy_known_values(spark, tmp_path):
    """Entropy is exact on analytically-known distributions."""
    docs = spark.createDataFrame(
        [
            (1, "aaaa", "en", "s", 4),      # single symbol -> 0 bits
            (2, "abab", "en", "s", 4),      # uniform over 2 -> 1 bit
            (3, "abcdabcd", "en", "s", 8),  # uniform over 4 -> 2 bits
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.char_entropy_bits
        for r in text.t_entropy(spark, str(tmp_path)).collect()
    }
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}


def test_entropy_plan_is_shuffle_free(spark, sf_dir):
    plan = (
        text.t_entropy(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # histogram never leaves the row


def test_run_checks_on_crafted_table(spark):
    from conduit_spark.analytics.quality_checks import (
        RowCheck,
        UniqueCheck,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (None, "z")],
        "id long, v string",
    )
    out = {
        r.check_name: r
        for r in run_checks(
            df,
            [
                RowCheck("no_null_id", F.col("id").isNull()),
                RowCheck("null_ok_half", F.col("id").isNull(), max_frac=0.5),
                UniqueCheck("v_unique", ("v",)),
            ],
        ).collect()
    }
    assert out["no_null_id"].metric == 0.25 and not out["no_null_id"].passed
    assert out["null_ok_half"].passed  # same metric, looser threshold
    assert out["v_unique"].metric == 0.25 and not out["v_unique"].passed


def test_dq_documents_reports_expected_verdicts(spark, sf_dir):
    from conduit_spark.analytics.quality_checks import dq_documents

    got = {r.check_name: r.passed for r in dq_documents(spark, sf_dir).collect()}
    assert got["doc_id_not_null"] and got["doc_id_unique"]
    assert got["n_chars_consistent"] and got["lang_known"]
    assert not got["lang_latin_only"]  # zh docs exist → strict check fails


def test_span_dedup_crafted(spark, tmp_path):
    """Span-level first-occurrence semantics: later copies of a span
    count as duplicates, including copies within one document."""
    from conduit_spark.analytics.dedup import SPAN_W, d_span_dedup

    span = lambda ch: " ".join([ch] * SPAN_W)  # noqa: E731
    rows = [
        (1, span("a") + " " + span("b"), "en", "s", 0),
        (2, span("b") + " " + span("c"), "en", "s", 0),  # b is a dup
        (3, span("a") + " " + span("a"), "en", "s", 0),  # both dup doc 1
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in d_span_dedup(spark, str(tmp_path)).collect()}
    assert (got[1].n_spans, got[1].n_dup_spans) == (2, 0)
    assert (got[2].n_spans, got[2].n_dup_spans) == (2, 1)
    assert (got[3].n_spans, got[3].n_dup_spans) == (2, 2)
    assert got[2].n_kept_spans == 1


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    """Every vector lands in exactly one cluster; centroids keep full
    dimensionality in integer micro-units."""
    from conduit_spark.analytics.similarity import (
        DIM,
        KMEANS_K,
        s_kmeans_centroids,
    )

    from conduit_spark.sources.tables import load_table

    out = s_kmeans_centroids(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in out) == n_vecs
    assert 1 <= len(out) <= KMEANS_K
    assert all(len(r.centroid.split(",")) == DIM for r in out)


def test_hll_estimate_tracks_exact(spark, sf_dir):
    """64-bucket HLL: raw estimate lands within a loose multiple of
    the ~13% standard error on every source, and the sketch never
    degenerates (some buckets hit, positive estimate)."""
    from conduit_spark.analytics.sketches import sk_hll_distinct

    rows = sk_hll_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_buckets_hit > 0
        assert r.est_distinct > 0
        assert r.rel_error < 0.6, (r.source, r.rel_error)


def test_pack_blocks_crafted(spark, tmp_path):
    """Known token counts → exact offsets and block spans, including a
    doc that straddles a block boundary."""
    from conduit_spark.analytics.chunking import PACK_BLOCK, c_pack_blocks

    text = lambda n: " ".join(["w"] * n)  # noqa: E731
    rows = [
        (0, text(500), "en", "s", 0),
        (1, text(20), "en", "s", 0),   # offset 500, spans block 0→1
        (2, text(4), "en", "s", 0),    # offset 520, inside block 1
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in c_pack_blocks(spark, str(tmp_path)).collect()}
    assert PACK_BLOCK == 512
    assert (got[0].token_offset, got[0].start_block, got[0].end_block) == (0, 0, 0)
    assert (got[1].token_offset, got[1].start_block, got[1].end_block) == (500, 0, 1)
    assert (got[2].token_offset, got[2].start_block, got[2].end_block) == (520, 1, 1)


def test_hist_quantile_estimates_bounded_by_bin_width(spark, sf_dir, duck):
    """The estimate for percentile p is the upper edge of the bin that
    contains the ceil(p*n)-th order statistic — pinned exactly."""
    import math

    from conduit_spark.analytics.sketches import HIST_BIN_W, sk_hist_quantiles

    est = {r.event_type: r for r in sk_hist_quantiles(spark, sf_dir).collect()}
    for t, r in est.items():
        for p, got in ((0.5, r.p50_est), (0.9, r.p90_est), (0.99, r.p99_est)):
            k = math.ceil(p * r.n)
            kth = duck.execute(
                "SELECT value FROM events WHERE event_type = ?"
                " ORDER BY value LIMIT 1 OFFSET ?",
                [t, k - 1],
            ).fetchone()[0]
            assert got - HIST_BIN_W <= kth < got, (t, p, got, kth)


def test_ivf_with_learned_centroids(spark, sf_dir):
    """The k-means trainer output plugs into ivf_cell: every vector
    gets a valid cell, cells match the trainer's own assignment
    (argmin L2 == argmax dot for unit-ish data need not hold, so we
    only require a valid, *stable* partition), and the learned index
    still supports a one-cell probe."""
    from conduit_spark.analytics.similarity import (
        KMEANS_SCALE,
        ivf_cell,
        s_kmeans_centroids,
    )
    from conduit_spark.sources.tables import load_table

    cents = [
        [float(c) / KMEANS_SCALE for c in r.centroid.split(",")]
        for r in s_kmeans_centroids(spark, sf_dir).collect()
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", ivf_cell(F.col("embedding"), cents).alias("cell")
    )
    n = emb.count()
    assert cells.filter(
        (F.col("cell") >= 0) & (F.col("cell") < len(cents))
    ).count() == n
    # stable across evaluations (pure column algebra, no RNG)
    again = cells.collect()
    assert sorted(map(tuple, cells.collect())) == sorted(map(tuple, again))
    # a probe of the query vector's cell touches a strict subset
    qcell = cells.filter(F.col("vec_id") == 0).collect()[0].cell
    probe = cells.filter(F.col("cell") == qcell).count()
    assert 0 < probe < n


def test_bloom_filter_estimate_and_mergeability(spark, sf_dir):
    """Per-source Bloom sketch: the fill-ratio estimate tracks the
    exact count, and the sketch is OR-mergeable — the bitwise union of
    two half-corpus filters equals the full-corpus filter (the property
    that makes the state shippable between executors)."""
    import pyspark.sql.functions as F

    from conduit_spark.analytics import sketches

    rows = sketches.sk_bloom_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.bits_set <= sketches.BLOOM_M
        if r.bits_set < sketches.BLOOM_M:
            assert r.est_distinct is not None
            assert r.rel_error < 0.35, (r.source, r.rel_error)
        assert len(r.filter_md5) == 32

    # mergeability on a crafted corpus: filter(A ∪ B) == filter(A) OR filter(B)
    from conduit_spark.analytics.dedup import SHINGLE_W
    from conduit_spark.functions.hashing import md5_int32

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12)), "s") for i in range(40)],
        "doc_id long, text string, source string",
    )

    def words_of(df):
        from conduit_spark.analytics.dedup import word_grams

        grams = (
            df.select(F.explode(word_grams(SHINGLE_W)).alias("gram"))
            .distinct()
            .select(
                F.explode(
                    F.array(
                        *[
                            md5_int32(
                                F.concat_ws("#", F.col("gram"), F.lit(str(j)))
                            )
                            % sketches.BLOOM_M
                            for j in range(sketches.BLOOM_K)
                        ]
                    )
                ).alias("pos")
            )
            .select(
                (F.col("pos") / 32).cast("bigint").alias("word"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                    "mask"
                ),
            )
            .groupBy("word")
            .agg(F.bit_or("mask").alias("w"))
        )
        return {r["word"]: r["w"] for r in grams.collect()}

    a = words_of(docs.filter("doc_id < 20"))
    b = words_of(docs.filter("doc_id >= 20"))
    full = words_of(docs)
    merged: dict = {}
    for d in (a, b):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) | v
    assert merged == full


def test_profile_and_drift_detection(spark, sf_dir):
    """Corpus profile round-trips through JSON and the drift report
    fires exactly on the injected shifts: a truncation regression
    (length drop), a language-mix shift (TV distance), a duplication
    regression — and stays quiet on the identity diff."""
    import json as _json

    import pyspark.sql.functions as F

    from conduit_spark.analytics.quality_checks import (
        drift_report,
        profile_documents,
    )
    from conduit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = _json.loads(_json.dumps(profile_documents(docs)))  # persistable
    assert base["n_docs"] > 0 and 0 <= base["dup_frac"] < 1
    assert abs(sum(base["lang_dist"].values()) - 1.0) < 1e-9

    # identity: nothing drifts
    report = drift_report(base, base)
    assert report and not any(f["drifted"] for f in report)

    # regression corpus: truncated text, one language only, every doc
    # duplicated once
    broken = docs.select(
        "doc_id",
        F.substring("text", 1, 10).alias("text"),
        F.lit("en").alias("lang"),
        "source",
    )
    broken = broken.unionByName(
        broken.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    cur = profile_documents(broken)
    drifted = {f["metric"] for f in drift_report(base, cur) if f["drifted"]}
    assert {"mean_len", "p50_len", "mean_tokens", "dup_frac", "lang_dist"} <= drifted
    assert "source_dist" not in drifted  # mix unchanged

    # tolerances are overridable
    loose = drift_report(base, cur, {"lang_dist": 1.0})
    assert not next(f for f in loose if f["metric"] == "lang_dist")["drifted"]


def test_dsir_prefers_target_like_docs(spark, tmp_path, monkeypatch):
    """A raw doc written in the target domain's vocabulary must
    out-weigh raw docs with disjoint vocabulary — the DSIR importance
    weight is exactly the bucketed log-likelihood ratio, so the copy
    scores high and the off-domain docs score low."""
    target_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, target_text, "src0") for i in range(4)]  # target slice
    rows.append((100, target_text, "srcX"))  # raw doc, target-like
    rows += [
        (i, "one two three four five six seven eight", "srcY")
        for i in range(101, 110)
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        sampling, "load_table", lambda sp, d, name, **kw: sp.read.parquet(path)
    )
    out = {r.doc_id: r.log_weight for r in sampling.smp_dsir(spark, str(tmp_path)).collect()}
    assert set(out) == {100, *range(101, 110)}  # raw docs only, all kept (K=64)
    assert out[100] > max(v for k, v in out.items() if k != 100)
    assert out[100] > 0 > min(out.values())  # ratio signs split by domain


def test_ppl_buckets_tercile_invariants(spark, sf_dir):
    """Bin-granular terciles: per language the buckets partition the
    docs, score ranges are disjoint and ordered head >= middle >= tail,
    and head/head+middle never exceed 1/3 and 2/3 of docs (a bin
    straddling a boundary falls to the LATER bucket)."""
    rows = curation.cur_ppl_buckets(spark, sf_dir).collect()
    from collections import defaultdict

    by_lang = defaultdict(dict)
    for r in rows:
        by_lang[r.lang][r.bucket] = r
    from conduit_spark.sources.tables import load_table

    totals = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, buckets in by_lang.items():
        n = totals[lang]
        assert sum(b.n_docs for b in buckets.values()) == n
        if "head" in buckets:
            assert 3 * buckets["head"].n_docs <= n
            if "middle" in buckets:
                assert buckets["head"].min_score >= buckets["middle"].max_score
                assert 3 * (buckets["head"].n_docs + buckets["middle"].n_docs) <= 2 * n
        if "middle" in buckets and "tail" in buckets:
            assert buckets["middle"].min_score >= buckets["tail"].max_score


def test_substring_dedup_merges_maximal_spans(spark, tmp_path, monkeypatch):
    """A duplicated L-token run (L >= SUB_W) at DIFFERENT offsets in
    two docs must merge into exactly one span covering L tokens —
    L - SUB_W + 1 consecutive duplicated grams, gap-merged; two
    disjoint duplicated runs in one doc must report two spans."""
    from conduit_spark.analytics.dedup import SUB_W

    run_a = [f"a{i}" for i in range(SUB_W + 4)]  # L = SUB_W+4
    run_b = [f"b{i}" for i in range(SUB_W)]  # L = SUB_W
    pad = lambda tag, n: [f"{tag}pad{i}" for i in range(n)]
    rows = [
        # doc 1: run_a at offset 0, run_b at the tail with a gap > SUB_W
        (1, " ".join(run_a + pad("x", SUB_W + 2) + run_b)),
        # doc 2: the same runs at different offsets
        (2, " ".join(pad("y", 3) + run_a + pad("z", SUB_W + 2) + run_b)),
        # doc 3: unique text, long enough to be reported with zeros
        (3, " ".join(pad("u", SUB_W + 5))),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        dedup,
        "load_table",
        lambda sp, d, name, **kw: sp.read.parquet(path),
    )
    out = {r.doc_id: r for r in dedup.d_substring_dedup(spark, str(tmp_path)).collect()}
    for d in (1, 2):
        assert out[d].n_dup_spans == 2
        assert out[d].n_dup_tokens == len(run_a) + len(run_b)
        assert out[d].n_dup_grams == (len(run_a) - SUB_W + 1) + 1
    assert out[3].n_dup_grams == 0 and out[3].n_dup_spans == 0
    assert out[3].dup_frac == 0.0


def test_incremental_dedup_verdicts(spark, tmp_path, monkeypatch):
    """New-batch docs (md5 gate: ids 1, 3, 6, 10) classified against
    the existing corpus: exact copy -> exact_dup with the existing id,
    shared-prefix near-dup -> near_dup with jaccard, disjoint text ->
    unique with -1 sentinels. An exact pair WITHIN the existing corpus
    (ids 4 and 5) must not surface anywhere — existing docs are never
    re-paired."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),  # existing
        (2, "totally different words nobody else uses anywhere at all"),
        (4, "existing internal duplicate pair first copy here now yes"),
        (5, "existing internal duplicate pair first copy here now yes"),
        (1, base),  # new: exact copy of doc 0
        (3, base + " tail"),  # new: near-dup of doc 0
        (6, "unrelated fresh content with its own vocabulary entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        dedup,
        "load_table",
        lambda sp, d, name, **kw: sp.read.parquet(path),
    )
    out = {r.doc_id: r for r in dedup.d_incremental(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 3, 6}
    assert out[1].verdict == "exact_dup" and out[1].match_id == 0
    assert out[1].jaccard == -1.0
    assert out[3].verdict == "near_dup" and out[3].match_id == 0
    assert out[3].jaccard > 0.5
    assert out[6].verdict == "unique" and out[6].match_id == -1


def test_bm25_tf_and_length_normalization(spark, tmp_path, monkeypatch):
    """Same length, more query-term hits -> higher BM25; same hits,
    longer doc -> lower BM25 (the b-weighted length normalization)."""
    filler = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, "spark merge window " + filler("a", 17)),  # 3 hits, 20 toks
        (2, "spark " + filler("b", 19)),  # 1 hit, 20 tokens
        (3, "spark merge window " + filler("c", 57)),  # 3 hits, 60 toks
        (4, filler("d", 20)),  # no hits -> absent from output
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        text, "load_table", lambda sp, d, name, **kw: sp.read.parquet(path)
    )
    out = {r.doc_id: r for r in text.t_bm25_topk(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_query_terms == 3 and out[2].n_query_terms == 1
    assert out[1].bm25 > out[2].bm25  # more matching terms wins
    assert out[1].bm25 > out[3].bm25  # shorter doc wins at equal tf


def test_hybrid_rrf_fusion_math(spark, sf_dir):
    """Every output row's rrf equals the sum of its legs' reciprocal
    ranks (missing leg -> -1 sentinel, 0 contribution), and a doc
    present in both legs outranks one with the same single-leg rank."""
    from conduit_spark.analytics import rag

    rows = rag.rag_hybrid_rrf(spark, sf_dir).collect()
    assert len(rows) == rag.RRF_TOPK
    for r in rows:
        expect = 0.0
        if r.rank_dense != -1:
            expect += 1.0 / (rag.RRF_K + r.rank_dense)
        if r.rank_bm25 != -1:
            expect += 1.0 / (rag.RRF_K + r.rank_bm25)
        assert abs(r.rrf - expect) < 1e-9
        assert r.rank_dense != -1 or r.rank_bm25 != -1
    # output is rrf-descending with doc_id tie-break
    keys = [(-r.rrf, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_zorder_layout_prunes_naive_does_not(spark, sf_dir):
    """The layout audit's whole point: under hash placement every shard
    straddles the predicate box (nothing prunes), under Morton
    interleaving most shards prune and the scan fraction collapses."""
    rows = {r.layout: r for r in curation.cur_zorder(spark, sf_dir).collect()}
    assert rows["naive"].rows_total == rows["zorder"].rows_total
    assert rows["naive"].rows_scanned + rows["zorder"].rows_scanned > 0
    assert rows["zorder"].n_pruned > rows["naive"].n_pruned
    assert rows["zorder"].scan_frac < rows["naive"].scan_frac / 2


def test_lang_temperature_flattens_distribution(spark, sf_dir):
    """Alpha-smoothing must boost tail languages (q/p > 1), damp the
    head language (q/p < 1), and both share columns must sum to 1."""
    rows = curation.cur_lang_temperature(spark, sf_dir).collect()
    assert abs(sum(r.nat_share for r in rows) - 1.0) < 1e-6
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-6
    head = max(rows, key=lambda r: r.nat_share)
    tail = min(rows, key=lambda r: r.nat_share)
    assert head.boost < 1.0 < tail.boost
    assert head.temp_share < head.nat_share
    assert tail.temp_share > tail.nat_share


def test_dq_embeddings_catches_each_corruption(spark, tmp_path, monkeypatch):
    """One corrupt row per failure class: the gate must fail exactly
    the matching checks, with metric = 1/n each."""
    from conduit_spark.analytics import quality_checks as qc

    dim = qc.EMB_DIM
    good = [float(i % 7) + 0.5 for i in range(dim)]
    rows = [
        (1, 0, good),
        (2, 1, good[: dim - 1]),  # dim_exact violation
        (3, 2, [0.0] * dim),  # no_zero_vectors violation
        (4, 99, good),  # label_in_range violation
        (4, 3, good),  # vec_id_unique violation (dup id)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id: long, label: long, embedding: array<double>"
    )
    path = str(tmp_path / "embeddings.parquet")
    emb.repartition(1).write.parquet(path)
    monkeypatch.setattr(
        qc, "load_table", lambda sp, d, name, **kw: sp.read.parquet(path)
    )
    out = {r.check_name: r for r in qc.dq_embeddings(spark, str(tmp_path)).collect()}
    assert not out["dim_exact"].passed and abs(out["dim_exact"].metric - 0.2) < 1e-9
    assert not out["no_zero_vectors"].passed
    assert not out["label_in_range"].passed
    assert not out["vec_id_unique"].passed
    assert out["vec_id_not_null"].passed and out["no_null_elements"].passed


def test_profile_dist_bounds_high_cardinality(spark):
    """The categorical profiler must collect at most top_k values plus
    an exact __other__ bucket — a unique-per-row column (url-like) is
    the driver-bomb case (VERDICT r6 #5)."""
    import pyspark.sql.functions as F

    from conduit_spark.analytics.quality_checks import profile_documents

    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        F.concat(F.lit("lang-"), F.col("id")).alias("lang"),  # all unique
        (F.col("id") % 3).cast("string").alias("source"),
    )
    prof = profile_documents(docs)
    assert len(prof["lang_dist"]) <= 101  # top 100 + __other__
    assert "__other__" in prof["lang_dist"]
    assert abs(sum(prof["lang_dist"].values()) - 1.0) < 1e-9
    # exactness: each of the 100 kept uniques is 1/n, other = (n-100)/n
    assert abs(prof["lang_dist"]["__other__"] - (n - 100) / n) < 1e-9
    # low-cardinality columns unchanged: no __other__, exact shares
    assert set(prof["source_dist"]) == {"0", "1", "2"}


def test_kmv_two_phase_salt_invariance(spark, sf_dir, monkeypatch):
    """The r8 two-phase k-min restructure must be SALT-INVARIANT: the
    k smallest values of a set do not depend on how the partial top-k
    fans out, so KMV_SALTS in {1, 7, 64} (1 = degenerate single-phase)
    must produce identical sketches and estimates."""
    baseline = None
    for salts in (1, 7, 64):
        monkeypatch.setattr(sketches, "KMV_SALTS", salts)
        rows = sorted(
            (r.source, r.n_exact, r.kth_hash, r.est_distinct)
            for r in sketches.sk_kmv_distinct(spark, sf_dir).collect()
        )
        if baseline is None:
            baseline = rows
        else:
            assert rows == baseline, f"KMV_SALTS={salts} changed the sketch"


def test_token_budget_band_invariance(spark, sf_dir, monkeypatch):
    """The two-level banded prefix sum is RESULT-invariant in the band
    target (any monotone banding partitions the sum exactly): wildly
    different BUDGET_BAND_DOCS must produce identical keep/partial
    decisions and cum_before values."""
    baseline = None
    for target in (64, 4096, 10**9):  # 10^9 -> one band holds everything
        monkeypatch.setattr(curation, "BUDGET_BAND_DOCS", target)
        rows = sorted(
            (r.doc_id, r.quality, r.n_tokens, r.cum_before, r.keep, r.partial)
            for r in curation.cur_token_budget(spark, sf_dir).collect()
        )
        if baseline is None:
            baseline = rows
        else:
            assert rows == baseline, f"BUDGET_BAND_DOCS={target} changed results"


def test_containment_catches_doc_in_doc_that_jaccard_misses(
    spark, tmp_path, monkeypatch
):
    """A short doc quoted verbatim inside a much longer one: Jaccard
    is diluted below its 0.05 floor... no — here below any useful
    near-dup threshold — while containment short→long is exactly 1.0.
    The asymmetric metric is the decontamination workhorse for exactly
    this shape (eval questions embedded in crawled pages)."""
    quoted = "alpha beta gamma delta epsilon"  # 3 shingles at W=3
    filler = " ".join(f"unique{i}" for i in range(60))
    rows = [
        (1, quoted),
        (2, f"{filler} {quoted}"),  # long doc containing all of doc 1
        (3, "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    orig = dedup.load_table
    monkeypatch.setattr(
        dedup,
        "load_table",
        lambda sp, d, name, **kw: sp.read.parquet(path),
    )
    try:
        cont = {
            (r.id_a, r.id_b): r
            for r in dedup.d_containment_pairs(spark, str(tmp_path)).collect()
        }
        jacc = {
            (r.id_a, r.id_b)
            for r in dedup.d_ngram_jaccard(spark, str(tmp_path)).collect()
        }
    finally:
        monkeypatch.setattr(dedup, "load_table", orig)
    r = cont[(1, 2)]
    assert r.cont_a_in_b == 1.0  # every shingle of 1 appears in 2
    assert r.cont_b_in_a < 0.1  # but 2 is mostly NOT doc 1
    # jaccard's view of the same pair: 3 shared / (3 + 63ish) — far
    # below any near-dup threshold; d_ngram_jaccard's 0.05 floor keeps
    # it (barely) but a dedup decision at jaccard>=0.5 would miss it
    assert (1, 3) not in cont and (2, 3) not in cont
    for pair in jacc:
        assert pair != (1, 3) and pair != (2, 3)


def test_ngram_novelty_first_owner_semantics(spark, tmp_path, monkeypatch):
    """doc1 introduces all its shingles (novelty 1); doc2 is a verbatim
    copy (novelty 0 — every shingle first appeared in doc1); doc3
    splices doc1's text with fresh text (novelty strictly between)."""
    base = "alpha beta gamma delta epsilon"
    rows = [
        (1, base),
        (2, base),
        (3, f"{base} zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    from conduit_spark.analytics import text as text_mod

    orig = dedup.load_table
    monkeypatch.setattr(
        text_mod, "load_table", lambda sp, d, name, **kw: sp.read.parquet(path)
    )
    try:
        got = {
            r.doc_id: r
            for r in text_mod.t_ngram_novelty(spark, str(tmp_path)).collect()
        }
    finally:
        monkeypatch.setattr(text_mod, "load_table", orig)
    assert got[1].novelty == 1.0
    assert got[2].novelty == 0.0
    assert 0.0 < got[3].novelty < 1.0
    # doc3: 10 words -> 8 shingles, 3 inherited from doc1's 5-word text
    assert got[3].n_grams == 8 and got[3].n_novel == 5


def test_s_incremental_semantics(spark, sf_dir):
    """Invariants of the incremental IVF maintenance audit beyond the
    oracle hash: existing+new partition the corpus, shares each sum to
    1, drift sums to ~0 (it's a redistribution), margins are
    non-negative (top1 >= top2 by construction) and boundary fractions
    live in [0, 1]."""
    rows = similarity.s_incremental(spark, sf_dir).collect()
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n_existing + r.n_new for r in rows) == emb_n
    assert abs(sum(r.share_before for r in rows) - 1.0) < 1e-6
    assert abs(sum(r.share_after for r in rows) - 1.0) < 1e-6
    assert abs(sum(r.occupancy_drift for r in rows)) < 1e-6
    for r in rows:
        if r.n_new > 0:
            assert r.avg_margin_new >= 0.0
            assert 0.0 <= r.boundary_frac_new <= 1.0
        else:
            assert r.avg_margin_new is None and r.boundary_frac_new is None


def test_s_pq_train_semantics(spark, sf_dir):
    """Invariants beyond the oracle hash: every subspace trains at
    most PQ_K codewords whose member counts sum to the corpus size,
    and every centroid has exactly PQ_DSUB dims."""
    from conduit_spark.analytics.similarity import PQ_DSUB, PQ_K, PQ_M

    rows = similarity.s_pq_train(spark, sf_dir).collect()
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r.subspace, []).append(r)
        assert 0 <= r.codeword_id < PQ_K
        assert len(r.centroid.split(",")) == PQ_DSUB
    assert set(by_sub) == set(range(PQ_M))
    for m, sub_rows in by_sub.items():
        assert len(sub_rows) <= PQ_K
        assert sum(r.n_members for r in sub_rows) == emb_n, f"subspace {m}"


def test_pq_code_consumes_learned_codebooks(spark, sf_dir):
    """The s_pq_train -> pq_code handoff the docstrings promise: train,
    divide micro-units by KMEANS_SCALE, hand the per-subspace
    (codeword_id, centroid) PAIRS to pq_code — codes come back as
    TRAINED ids for every subspace (ADVICE r11: the pair form keeps the
    handoff id-stable even when a codeword empties during Lloyd
    iterations and the trainer emits fewer than PQ_K rows)."""
    from conduit_spark.analytics.similarity import (
        KMEANS_SCALE,
        PQ_K,
        PQ_M,
        pq_code,
    )

    rows = similarity.s_pq_train(spark, sf_dir).collect()
    cbs = [[] for _ in range(PQ_M)]
    for r in sorted(rows, key=lambda r: (r.subspace, r.codeword_id)):
        cbs[r.subspace].append(
            (
                int(r.codeword_id),
                [int(v) / KMEANS_SCALE for v in r.centroid.split(",")],
            )
        )
    trained_ids = [{cid for cid, _ in cbs[m]} for m in range(PQ_M)]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    got = emb.select(
        *[
            pq_code(F.col("embedding"), m, cbs).alias(f"c{m}")
            for m in range(PQ_M)
        ]
    ).collect()
    assert len(got) == 50
    for row in got:
        for m in range(PQ_M):
            assert row[f"c{m}"] in trained_ids[m]
            assert 0 <= row[f"c{m}"] < PQ_K


def test_pq_code_pairs_survive_emptied_codeword(spark):
    """pq_code with a GAPPED (id, centroid) codebook — the emptied-
    codeword scenario ADVICE r11 flagged: ids [0, 2, 3] (1 died during
    training) must come back as labels 0/2/3, never a positional 1."""
    from conduit_spark.analytics.similarity import PQ_DSUB, PQ_M, pq_code

    gapped = [
        [
            (0, [0.0] * PQ_DSUB),
            (2, [10.0] * PQ_DSUB),
            (3, [-10.0] * PQ_DSUB),
        ]
        for _ in range(PQ_M)
    ]
    df = spark.createDataFrame(
        [([9.5] * (PQ_DSUB * PQ_M),), ([-9.5] * (PQ_DSUB * PQ_M),)],
        "embedding: array<double>",
    )
    got = df.select(
        pq_code(F.col("embedding"), 0, gapped).alias("c")
    ).collect()
    assert [r.c for r in got] == [2, 3]


def test_m_ahash_pairs_matches_naive_model(spark, sf_dir):
    """The grouped banded path (r12 restructure: groupBy+combination
    explode instead of a bucket self-join) must emit exactly the pairs
    a naive Python model produces: decode every image, compute the
    64-bit aHash, band into 4x16-bit buckets, drop buckets over the
    cap, all-pairs within surviving buckets, keep hamming <= max."""
    from collections import defaultdict

    from conduit_spark.analytics.media_codecs import decode_png
    from conduit_spark.analytics.multimodal import (
        AHASH_BUCKET_CAP,
        AHASH_MAX_HAMMING,
        _synth_png_bytes,
        m_ahash_pairs,
    )

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def ahash(did):
        meta = decode_png(_synth_png_bytes(did), return_pixels=True)
        w, h, px = meta["width"], meta["height"], meta["pixels"]
        total = sum(px)
        bits = 0
        for i in range(8):
            r0, r1 = (i * h) // 8, ((i + 1) * h) // 8
            for j in range(8):
                c0, c1 = (j * w) // 8, ((j + 1) * w) // 8
                bs = sum(
                    px[r * w + c]
                    for r in range(r0, r1)
                    for c in range(c0, c1)
                )
                if bs * w * h > total * (r1 - r0) * (c1 - c0):
                    bits |= 1 << (i * 8 + j)
        return bits

    hashes = {did: ahash(did) for did in doc_ids}
    buckets = defaultdict(list)
    for did, bits in hashes.items():
        for b in range(4):
            buckets[(b, (bits >> (b * 16)) & 0xFFFF)].append(did)
    expect = set()
    for members in buckets.values():
        if len(members) > AHASH_BUCKET_CAP:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                ham = bin(hashes[ms[i]] ^ hashes[ms[j]]).count("1")
                if ham <= AHASH_MAX_HAMMING:
                    expect.add((ms[i], ms[j], ham))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in m_ahash_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(expect) > 0


def test_a_fp_pairs_matches_naive_model(spark, sf_dir):
    """The audio leg of the multimodal dedup trio must emit exactly
    the pairs a naive Python model produces: really decode every
    A-law clip, compute the 8x8 lag-band energy grid and the per-band
    mean-threshold bits, band into 4x16-bit buckets, drop buckets over
    the cap, all-pairs within surviving buckets, keep hamming <= max."""
    from collections import defaultdict

    from conduit_spark.analytics.media_codecs import decode_wav
    from conduit_spark.analytics.multimodal import (
        A_FP_BUCKET_CAP,
        A_FP_FRAMES,
        A_FP_LAGS,
        A_FP_MAX_HAMMING,
        _synth_alaw_wav_bytes,
        a_fp_pairs,
    )

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def fp(did):
        s = decode_wav(_synth_alaw_wav_bytes(did), return_samples=True)[
            "samples"
        ]
        n, T = len(s), A_FP_FRAMES
        f = [(t * n) // T for t in range(T + 1)]
        bits = 0
        for b in range(A_FP_LAGS):
            lag = b + 1
            grid = []
            for t in range(T):
                lo, hi = max(f[t], lag), f[t + 1]
                e = sum(abs(s[i] - s[i - lag]) for i in range(lo, hi))
                grid.append((e, max(hi - lo, 0)))
            tot = sum(e for e, _ in grid)
            ctot = sum(c for _, c in grid)
            for t, (e, c) in enumerate(grid):
                if e * ctot > tot * c:
                    bits |= 1 << (t * 8 + b)
        return bits

    hashes = {did: fp(did) for did in doc_ids}
    buckets = defaultdict(list)
    for did, bits in hashes.items():
        for b in range(4):
            buckets[(b, (bits >> (b * 16)) & 0xFFFF)].append(did)
    expect = set()
    for members in buckets.values():
        if len(members) > A_FP_BUCKET_CAP:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                ham = bin(hashes[ms[i]] ^ hashes[ms[j]]).count("1")
                if ham <= A_FP_MAX_HAMMING:
                    expect.add((ms[i], ms[j], ham))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in a_fp_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(expect) > 0


def test_smp_coreset_greedy_invariants(spark, sf_dir):
    """k-center invariants beyond the oracle hash: CORESET_K distinct
    centers in round order starting from the smallest vec_id,
    selection distances non-increasing (each pick is the current
    farthest point, so the cover radius shrinks monotonically),
    coverage counts sum to the corpus, and round 1's pick really is
    the exact farthest vector from center 0 (recomputed naively)."""
    from conduit_spark.analytics.sampling import CORESET_K, smp_coreset
    from conduit_spark.analytics.similarity import KMEANS_SCALE

    rows = smp_coreset(spark, sf_dir).collect()
    assert [r.sel_round for r in rows] == list(range(CORESET_K))
    assert len({r.vec_id for r in rows}) == CORESET_K
    dists = [r.sel_dist for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    emb = {
        r.vec_id: [int(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> floor(CAST(x AS DOUBLE) "
            f"* {KMEANS_SCALE}.0)) AS embedding",
        )
        .collect()
    }
    assert rows[0].vec_id == min(emb)
    assert rows[0].sel_dist == 0
    assert sum(r.n_covered for r in rows) == len(emb)
    c0 = emb[rows[0].vec_id]
    far = max(
        ((sum((a - b) ** 2 for a, b in zip(q, c0)), -vid), vid)
        for vid, q in emb.items()
        if vid != rows[0].vec_id
    )
    assert rows[1].vec_id == far[1]
    assert rows[1].sel_dist == far[0][0]


def test_rag_context_pack_greedy_skip_semantics(spark, sf_dir):
    """Greedy-pack invariants beyond the oracle hash: every query
    emits all PACK_POOL candidates in rank order, each decision
    replays the skip-and-continue recurrence (kept iff running kept
    total + n_tokens <= budget), the running total never exceeds the
    budget, and at least one query SKIPS a candidate and then KEEPS a
    later one — the property that distinguishes this packer from
    stop-at-first-overflow truncation."""
    from collections import defaultdict

    from conduit_spark.analytics.rag import (
        PACK_BUDGET,
        PACK_POOL,
        rag_context_pack,
    )

    rows = rag_context_pack(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    skip_then_keep = False
    for q, cands in by_q.items():
        assert [r.rank for r in cands] == list(range(1, PACK_POOL + 1))
        cum = 0
        skipped = False
        for r in cands:
            want_keep = cum + r.n_tokens <= PACK_BUDGET
            assert r.kept == want_keep, (q, r.rank)
            if want_keep:
                cum += r.n_tokens
                if skipped:
                    skip_then_keep = True
            else:
                skipped = True
            assert r.cum_tokens == cum <= PACK_BUDGET
    assert skip_then_keep


def test_sk_hll_merge_lossless_rollup(spark, sf_dir):
    """The sketch-merge law beyond the oracle hash: merging per-source
    HLL register vectors by element-wise max must equal the direct
    global sketch (merge_matches is the emitted invariant), and the
    64-bucket estimate lands within 3 standard errors (3 * 1.04/sqrt(64)
    ~ 39 pct) of the exact global distinct count."""
    from conduit_spark.analytics.sketches import sk_hll_merge

    row = sk_hll_merge(spark, sf_dir).collect()[0]
    assert row.merge_matches is True
    assert row.est_merged == row.est_direct
    assert row.n_sources > 1  # the merge actually merged something
    assert row.n_exact_global > 0
    assert row.rel_error <= 0.39


def test_dq_drift_semantics(spark, sf_dir):
    """PSI invariants beyond the oracle hash: PSI is non-negative (it
    is a sum of (q-p)ln(q/p) terms, each >= 0), one row per monitored
    feature, and the severity level matches the thresholds."""
    from conduit_spark.analytics.quality_checks import (
        DRIFT_PSI_MAJOR,
        DRIFT_PSI_MINOR,
        dq_drift,
    )

    rows = {r.feature: r for r in dq_drift(spark, sf_dir).collect()}
    assert set(rows) == {"len", "lang"}
    for r in rows.values():
        assert r.psi >= 0.0
        expect = ("major" if r.psi >= DRIFT_PSI_MAJOR
                  else "minor" if r.psi >= DRIFT_PSI_MINOR else "stable")
        assert r.level == expect
        assert r.n_bins >= 1


def test_cur_schedule_interleaves_proportionally(spark, sf_dir):
    """Stride-scheduling invariants beyond the oracle hash: positions
    are 1..SCHED_N with no gaps, vt is non-decreasing, per-source
    intra_ranks appear in order (a source's doc k never schedules
    before its doc k-1), and over the whole window each source's
    share tracks its temperature weight (within the granularity a
    finite window allows)."""
    from conduit_spark.analytics.curation import SCHED_ALPHA, SCHED_N, cur_schedule

    rows = cur_schedule(spark, sf_dir).collect()
    assert [r.position for r in rows] == list(range(1, SCHED_N + 1))
    assert all(
        rows[i].vt <= rows[i + 1].vt for i in range(len(rows) - 1)
    )
    last_rank = {}
    seen = {}
    for r in rows:
        assert r.intra_rank == last_rank.get(r.source, 0) + 1
        last_rank[r.source] = r.intra_rank
        seen[r.source] = seen.get(r.source, 0) + 1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    tot = sum(counts.values())
    pw = {s: (n / tot) ** SCHED_ALPHA for s, n in counts.items()}
    z = sum(pw[s] for s in sorted(pw))
    for s, n_sched in seen.items():
        expect = SCHED_N * pw[s] / z
        assert abs(n_sched - expect) <= 2, (s, n_sched, expect)


def test_semantic_contamination_naive_model(spark, sf_dir):
    """Beyond the oracle hash: recompute the whole operator naively in
    Python — quantized assignment to the trained centroids (same
    min(dist*K + pos) tie-break), then every same-cell
    benchmark x training pair with cosine >= threshold — and require
    the exact same (cluster, bench, train) triple set, with matching
    cosines. Also pins the membership convention (bench = vec_id %
    SEM_CONTAM_MOD == 0) and that no train x train or bench x bench
    pair ever leaks through."""
    import math

    from conduit_spark.analytics.similarity import (
        KMEANS_SCALE,
        SEM_CONTAM_MIN_COS,
        SEM_CONTAM_MOD,
        d_semantic_contamination,
        s_kmeans_centroids,
    )

    out = d_semantic_contamination(spark, sf_dir).collect()
    assert out, "no contaminated pairs at test SF — vacuous"
    for r in out:
        assert r.bench_id % SEM_CONTAM_MOD == 0
        assert r.train_id % SEM_CONTAM_MOD != 0
        assert r.cos_sim >= SEM_CONTAM_MIN_COS

    cents = [
        (r.cluster_id, [int(x) for x in r.centroid.split(",")])
        for r in s_kmeans_centroids(spark, sf_dir).collect()
    ]  # already ordered by cluster_id = the assignment position order
    vecs = {
        r.vec_id: list(r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    q = {
        vid: [math.floor(float(x) * KMEANS_SCALE) for x in v]
        for vid, v in vecs.items()
    }

    def assign(qv):
        best = min(
            (sum((a - b) ** 2 for a, b in zip(qv, c)) * len(cents) + i)
            for i, (_, c) in enumerate(cents)
        )
        return cents[best % len(cents)][0]

    cells = {vid: assign(qv) for vid, qv in q.items()}

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return round(dot / (na * nb), 9)

    naive = {}
    for b_id, b_cell in cells.items():
        if b_id % SEM_CONTAM_MOD != 0:
            continue
        for t_id, t_cell in cells.items():
            if t_id % SEM_CONTAM_MOD == 0 or t_cell != b_cell:
                continue
            c = cos(vecs[b_id], vecs[t_id])
            if c >= SEM_CONTAM_MIN_COS:
                naive[(b_cell, b_id, t_id)] = c

    got = {(r.cluster_id, r.bench_id, r.train_id): r.cos_sim for r in out}
    assert set(got) == set(naive)
    for k, v in got.items():
        assert v == pytest.approx(naive[k], abs=1e-9), k


def test_m_phash_pairs_matches_naive_model(spark, sf_dir):
    """pHash through a pure-Python model: decode every image, compute
    the fixed-point 8x8 block means, the integer DCT-II against the
    SHARED scaled-cos table, the 32nd-smallest-AC median threshold,
    band/cap/all-pairs/hamming — and require the exact pair set. Also
    pins the brightness-invariance property the DC exclusion buys:
    adding a constant to every pixel (no wraparound) leaves the hash
    unchanged."""
    from collections import defaultdict

    from conduit_spark.analytics.media_codecs import decode_png
    from conduit_spark.analytics.multimodal import (
        _PHASH_COS,
        PHASH_BUCKET_CAP,
        PHASH_MAX_HAMMING,
        PHASH_MSCALE,
        _synth_png_bytes,
        m_phash_pairs,
    )

    C = [_PHASH_COS[u * 8 : u * 8 + 8] for u in range(8)]

    def phash_of_grid(px, w, h):
        m = [[0] * 8 for _ in range(8)]
        for i in range(8):
            r0, r1 = (i * h) // 8, ((i + 1) * h) // 8
            for j in range(8):
                c0, c1 = (j * w) // 8, ((j + 1) * w) // 8
                bs = sum(
                    px[r * w + c]
                    for r in range(r0, r1)
                    for c in range(c0, c1)
                )
                m[i][j] = (bs * PHASH_MSCALE) // ((r1 - r0) * (c1 - c0))
        coef = [
            sum(
                C[u][i] * m[i][j] * C[v][j]
                for i in range(8)
                for j in range(8)
            )
            for u in range(8)
            for v in range(8)
        ]
        med = sorted(coef[1:])[31]
        bits = 0
        for k in range(1, 64):
            if coef[k] > med:
                bits |= 1 << k
        return bits

    def phash(did):
        meta = decode_png(_synth_png_bytes(did), return_pixels=True)
        return phash_of_grid(
            list(meta["pixels"]), meta["width"], meta["height"]
        )

    # brightness invariance: constant offset (no mod wrap) -> same hash
    px = [(3 * r + 5 * c) % 100 for r in range(16) for c in range(24)]
    assert phash_of_grid(px, 24, 16) == phash_of_grid(
        [p + 100 for p in px], 24, 16
    )

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    hashes = {did: phash(did) for did in doc_ids}
    buckets = defaultdict(list)
    for did, bits in hashes.items():
        for b in range(4):
            buckets[(b, (bits >> (b * 16)) & 0xFFFF)].append(did)
    expect = set()
    for members in buckets.values():
        if len(members) > PHASH_BUCKET_CAP:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                ham = bin(hashes[ms[i]] ^ hashes[ms[j]]).count("1")
                if ham <= PHASH_MAX_HAMMING:
                    expect.add((ms[i], ms[j], ham))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in m_phash_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(expect) > 0


def test_cdc_chunks_naive_model_and_shift_resistance(spark, sf_dir):
    """c_cdc_chunks vs a pure-Python replay of the boundary gate +
    cut list + chunk hashing (exact per-doc equality), plus the
    property content-defined chunking exists for: inserting one word
    changes only the chunks overlapping the edit — every chunk hash
    outside the affected neighborhood survives verbatim, where a
    fixed-window chunker would shift (and lose) every downstream
    chunk."""
    import hashlib

    from conduit_spark.analytics.chunking import (
        CDC_DIV,
        CDC_W,
        c_cdc_chunks,
    )

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def chunks_of(words):
        n = len(words)
        cuts = [
            i
            for i in range(CDC_W, n)
            if md5i(" ".join(words[i - CDC_W : i])) % CDC_DIV == 0
        ]
        st = [0] + cuts
        en = cuts + [n]
        return [md5i(" ".join(words[a:b])) for a, b in zip(st, en)]

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    naive = {did: chunks_of(t.split(" ")) for did, t in docs.items()}
    from collections import defaultdict

    owners = defaultdict(set)
    for did, hs in naive.items():
        for ch in hs:
            owners[ch].add(did)
    expect = {
        did: (
            len(t.split(" ")),
            len(naive[did]),
            sum(1 for ch in naive[did] if len(owners[ch]) >= 2),
        )
        for did, t in docs.items()
    }
    got = {
        r.doc_id: (r.n_words, r.n_chunks, r.n_shared_chunks)
        for r in c_cdc_chunks(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[2] for v in expect.values()) > 0  # shared chunks exist

    # shift resistance: one inserted word preserves all chunk hashes
    # outside the edited neighborhood (multiset intersection large),
    # while fixed-window chunking would lose every downstream chunk
    words = next(t for t in docs.values() if len(t.split()) > 60).split(" ")
    edited = words[: len(words) // 2] + ["INSERTED"] + words[len(words) // 2 :]
    a, b = chunks_of(words), chunks_of(edited)
    from collections import Counter

    common = sum((Counter(a) & Counter(b)).values())
    assert common >= len(a) - 3  # at most the edit-local chunks differ


def test_m_dhash_pairs_matches_naive_model(spark, sf_dir):
    """dHash through a pure-Python model: 8x9 fixed-point block means,
    strict horizontal-gradient bits, band/cap/all-pairs/hamming — the
    exact pair set. Plus the brightness-invariance property gradients
    buy: a constant offset (no wraparound) leaves the hash unchanged."""
    from collections import defaultdict

    from conduit_spark.analytics.media_codecs import decode_png
    from conduit_spark.analytics.multimodal import (
        DHASH_BUCKET_CAP,
        DHASH_MAX_HAMMING,
        DHASH_MSCALE,
        _synth_png_bytes,
        m_dhash_pairs,
    )

    def dhash_of_grid(px, w, h):
        m = [[0] * 9 for _ in range(8)]
        for i in range(8):
            r0, r1 = (i * h) // 8, ((i + 1) * h) // 8
            for j in range(9):
                c0, c1 = (j * w) // 9, ((j + 1) * w) // 9
                bs = sum(
                    px[r * w + c]
                    for r in range(r0, r1)
                    for c in range(c0, c1)
                )
                m[i][j] = (bs * DHASH_MSCALE) // ((r1 - r0) * (c1 - c0))
        bits = 0
        for i in range(8):
            for j in range(8):
                if m[i][j] < m[i][j + 1]:
                    bits |= 1 << (i * 8 + j)
        return bits

    def dhash(did):
        meta = decode_png(_synth_png_bytes(did), return_pixels=True)
        return dhash_of_grid(
            list(meta["pixels"]), meta["width"], meta["height"]
        )

    px = [(3 * r + 5 * c) % 100 for r in range(16) for c in range(27)]
    assert dhash_of_grid(px, 27, 16) == dhash_of_grid(
        [p + 120 for p in px], 27, 16
    )

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    hashes = {did: dhash(did) for did in doc_ids}
    buckets = defaultdict(list)
    for did, bits in hashes.items():
        for b in range(4):
            buckets[(b, (bits >> (b * 16)) & 0xFFFF)].append(did)
    expect = set()
    for members in buckets.values():
        if len(members) > DHASH_BUCKET_CAP:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                ham = bin(hashes[ms[i]] ^ hashes[ms[j]]).count("1")
                if ham <= DHASH_MAX_HAMMING:
                    expect.add((ms[i], ms[j], ham))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in m_dhash_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(expect) > 0


def test_matryoshka_topk_two_stage_semantics(spark, sf_dir):
    """Replays the full MRL pipeline naively: prefix-16 cosine
    shortlist of 50 (rounded-score ordering, id tiebreak), exact
    full-dim re-rank top-5 — and requires identical rows. Pins that
    every emitted hit came from the prefix shortlist and that both
    scores are genuine cosines of the respective dimension slices."""
    import math

    from conduit_spark.analytics.similarity import (
        MRL_CANDIDATES,
        MRL_DIM,
        QUERY_VEC_ID,
        s_matryoshka_topk,
    )

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    qv = vecs[QUERY_VEC_ID]

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(dot / (na * nb), 9)

    pre = {
        vid: cos(v[:MRL_DIM], qv[:MRL_DIM])
        for vid, v in vecs.items()
        if vid != QUERY_VEC_ID
    }
    shortlist = sorted(pre, key=lambda vid: (-pre[vid], vid))[:MRL_CANDIDATES]
    rerank = sorted(
        ((vid, pre[vid], cos(vecs[vid], qv)) for vid in shortlist),
        key=lambda t: (-t[2], t[0]),
    )[:5]
    got = [
        (r.vec_id, r.prefix_sim, r.cos_sim)
        for r in s_matryoshka_topk(spark, sf_dir).collect()
    ]
    assert got == rerank
    # the two scores genuinely differ (prefix is an approximation)
    assert any(abs(p - c) > 1e-6 for _, p, c in got)


def test_pmi_collocations_naive_model(spark, sf_dir):
    """Replays PMI collocation extraction in pure Python — bigram
    counts, positional unigram counts, the ln(c12*N/(c1*c2)) measure,
    the count floor, rounded-score ordering — and requires the exact
    top-K rows. Also pins the measure's sign semantics: a pair that
    co-occurs more than independence predicts scores positive."""
    import math
    from collections import Counter

    from conduit_spark.analytics.text import (
        PMI_MIN_COUNT,
        PMI_TOP_K,
        t_pmi_collocations,
    )

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    c12, c1, c2 = Counter(), Counter(), Counter()
    n = 0
    for t in texts:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
            c2[b] += 1
            n += 1
    rows = []
    for (a, b), c in c12.items():
        if c < PMI_MIN_COUNT:
            continue
        pmi = round(
            math.log((float(c) * float(n)) / (float(c1[a]) * float(c2[b]))),
            9,
        )
        rows.append((a, b, c, pmi))
    expect = sorted(rows, key=lambda r: (-r[3], r[0], r[1]))[:PMI_TOP_K]
    got = [
        (r.w1, r.w2, r.c12, r.pmi)
        for r in t_pmi_collocations(spark, sf_dir).collect()
    ]
    assert got == expect
    assert got[0][3] > 0  # the top collocation beats independence


def test_dq_referential_detects_injected_orphans(spark, sf_dir, tmp_path):
    """All seven FK edges pass on the shipped testdata; corrupting the
    corpus (dropping a referenced customer, nulling one nation key)
    flips exactly the affected edges with exact orphan/NULL counts."""
    import shutil

    from conduit_spark.analytics.quality_checks import dq_referential

    clean = {r.fk_edge: r for r in dq_referential(spark, sf_dir).collect()}
    assert len(clean) == 7 and all(r.passed for r in clean.values())
    assert all(r.n_orphans == 0 and r.n_null_keys == 0 for r in clean.values())

    bad = tmp_path / "sf-corrupt"
    bad.mkdir()
    for t in ("region nation customer supplier part orders "
              "lineitem events documents embeddings").split():
        src = f"{sf_dir}/{t}.parquet"
        shutil.copy(src, bad / f"{t}.parquet")
    # drop one referenced customer -> its orders become orphans
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    victim = orders.select("o_custkey").first()[0]
    n_victim_orders = orders.filter(F.col("o_custkey") == victim).count()
    cust.filter(F.col("c_custkey") != victim).write.mode(
        "overwrite"
    ).parquet(str(bad / "customer.parquet"))
    # null one supplier nation key
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    first_supp = supp.select("s_suppkey").first()[0]
    supp.withColumn(
        "s_nationkey",
        F.when(F.col("s_suppkey") == first_supp, F.lit(None)).otherwise(
            F.col("s_nationkey")
        ),
    ).write.mode("overwrite").parquet(str(bad / "supplier.parquet"))

    out = {r.fk_edge: r for r in dq_referential(spark, str(bad)).collect()}
    oc = out["orders.o_custkey -> customer.c_custkey"]
    assert not oc.passed and oc.n_orphans == n_victim_orders
    sn = out["supplier.s_nationkey -> nation.n_nationkey"]
    assert not sn.passed and sn.n_null_keys == 1 and sn.n_orphans == 0
    for edge, r in out.items():
        if edge not in (
            "orders.o_custkey -> customer.c_custkey",
            "supplier.s_nationkey -> nation.n_nationkey",
        ):
            assert r.passed, edge


def test_balanced_classes_exact_undersampling(spark, sf_dir):
    """Every label keeps exactly the minority-class count of vectors,
    ranks are 1..k in md5 order, and the kept set per label equals the
    naive bottom-k — so the subset is perfectly balanced, deterministic,
    and stable (growth can only displace the largest hash)."""
    import hashlib
    from collections import defaultdict

    from conduit_spark.analytics.sampling import smp_balanced_classes

    def md5i(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)

    labels = defaultdict(list)
    for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect():
        labels[r.label].append(r.vec_id)
    k = min(len(v) for v in labels.values())
    assert max(len(v) for v in labels.values()) > k  # real skew to fix

    out = defaultdict(list)
    for r in smp_balanced_classes(spark, sf_dir).collect():
        out[r.label].append((r.rank, r.vec_id, r.sample_key))
    assert set(out) == set(labels)
    for lab, ids in labels.items():
        expect = sorted(((md5i(v), v) for v in ids))[:k]
        got = out[lab]
        assert [r for r, _, _ in got] == list(range(1, k + 1))
        assert [(h, v) for _, v, h in [(r, v, h) for r, v, h in got]] == [
            (h, v) for h, v in expect
        ]
