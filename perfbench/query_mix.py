"""query_mix: one closed-loop client over 13 engine queries.

The queries cover every analytics family plus the ``plans`` barriers
(eager checkpoints, the ``ordered_result`` path of
``q_bucketed_join``), shuffles and pandas workers; no pipeline layer
runs. Each query is run to the ``noop`` sink, in an order permuted by
the seed, over the sf0.01 test tables in ``perfbench/data``. The seed
only permutes the order.

Warm-up is one cold pass that collects every result, then
``WARMUP_NOOP_PASSES`` passes to ``noop`` like the timed ones. The
timed window is whole passes, at least two and at least ``--seconds``.
After it each collected result is checked against the query's DuckDB
oracle.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import oracle
from perfbench.common import busy_seconds, geomean, job_totals, median, now

QUERIES = (
    "q1_pricing_summary",
    "q9_product_profit",
    "q18_large_orders",
    "q_orders_antijoin",
    "q_bucketed_join",
    "d_containment_pairs",
    "d_minhash_lsh_pairs",
    "d_ngram_jaccard",
    "sk_hll_distinct",
    "t_tfidf_top_terms",
    "s_semantic_dedup",
    "p_cdc_upsert",
    "m_dhash_pairs",
)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# noop passes after the collecting cold pass; on the 4-core host the
# pass time settles by the third pass of a process (28 s, 9.4 s, 8.2 s,
# then 7.3-8.0 s)
WARMUP_NOOP_PASSES = 1
MIN_TIMED_PASSES = 2


def _persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def _noop_pass(res, spark, fns, order) -> float:
    t = now()
    for q in order:
        try:
            fns[q](spark, DATA).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — fails the run's checks
            res.check(False, f"warm-up {q}: {type(e).__name__}: {e}"[:300])
    return now() - t


def run(ctx) -> None:
    import __spark_entry__ as entry

    res, spark = ctx.result, ctx.spark
    sc = spark.sparkContext
    fns = entry.extended_queries()
    sqls = entry.extended_oracle_sql()
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)

    # cold pass: collect every result for the oracle check
    got: dict[str, tuple | str] = {}
    t = now()
    for q in order:
        try:
            df = fns[q](spark, DATA)
            got[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001 — reported by the oracle check
            got[q] = f"{type(e).__name__}: {e}"[:300]
    warm_s = [now() - t]
    warm_s += [_noop_pass(res, spark, fns, order) for _ in range(ctx.scale(WARMUP_NOOP_PASSES))]
    ctx.setup_done()

    samples: dict[str, list[float]] = {q: [] for q in order}
    spans: list[dict] = []
    failed = 0
    passes = 0
    pass_s = []
    t_start = now()
    while passes < MIN_TIMED_PASSES or now() - t_start < ctx.seconds:
        t_pass = now()
        for q in order:
            tag = f"perfbench-{q}-{passes}"
            if ctx.trace:
                sc.setJobGroup(tag, tag)
            t0 = now()
            try:
                df = fns[q](spark, DATA)
                t1 = now()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                failed += 1
                res.check(False, f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            t2 = now()
            samples[q].append((t2 - t0) * 1e3)
            if ctx.trace:
                spans.append(
                    {
                        "q": q,
                        "group": tag,
                        "ms": (t2 - t0) * 1e3,
                        "build_ms": (t1 - t0) * 1e3,
                        "persisted_rdds": _persisted_rdds(spark),
                    }
                )
        pass_s.append(now() - t_pass)
        passes += 1
    elapsed = now() - t_start
    ctx.window_done()

    # correctness, outside the timed window
    con = oracle.duck_views(DATA, TABLES)
    bad = 0
    for q in order:
        if isinstance(got[q], str):
            err = got[q]
        else:
            ref = con.execute(sqls[q])
            err = oracle.compare(*got[q], [d[0] for d in ref.description], ref.fetchall())
            if err is None and not got[q][1]:
                err = "empty result"
        res.check(err is None, f"{q}: {err}")
        bad += err is not None
    con.close()
    completed = sum(len(v) for v in samples.values())
    res.attempted = completed + failed
    res.failed = failed + bad
    if not completed:
        return
    res.put("latency_ms", geomean([median(v) for v in samples.values() if v]), "ms")
    res.put("throughput_per_s", completed / elapsed, "1/s")
    res.detail.update(
        passes=passes,
        order=order,
        warmup_pass_s=[round(x, 3) for x in warm_s],
        pass_s=[round(x, 3) for x in pass_s],
        query_ms={q: [round(x, 3) for x in v] for q, v in samples.items()},
    )
    if ctx.trace:
        _layers(ctx, spans, passes, t_start, t_start + elapsed)


def _layers(ctx, spans, passes, t0, t1) -> None:
    res = ctx.result
    jobs, stages = ctx.rest.snapshot()
    # REST times are epoch seconds; map the perf_counter window onto them
    shift = time.time() - now()
    mine = [j for j in jobs if str(j.get("jobGroup", "")).startswith("perfbench-")]
    by_group: dict[str, list] = {}
    for j in mine:
        by_group.setdefault(j["jobGroup"], []).append(j)
    for q in QUERIES:
        qs = [s for s in spans if s["q"] == q]
        per = [job_totals(by_group.get(s["group"], []), stages) for s in qs]
        res.put(f"query.{q}.ms", median([s["ms"] for s in qs]), "ms")
        res.put(f"query.{q}.build_ms", median([s["build_ms"] for s in qs]), "ms")
        res.put(f"query.{q}.jobs", median([p["jobs"] for p in per]), "count")
        res.put(
            f"query.{q}.shuffle_bytes",
            median([p["shuffle_write_bytes"] for p in per]),
            "bytes",
        )
        res.put(
            f"query.{q}.persisted_rdds",
            median([s["persisted_rdds"] for s in qs]),
            "count",
        )
    tot = job_totals(mine, stages)
    wall = t1 - t0
    idle = wall - busy_seconds(mine, t0 + shift, t1 + shift)
    res.put("query.driver_idle_ms", idle * 1e3 / passes, "ms")
    for k, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
        ("executor_cpu_ms", "ms"),
        ("gc_ms", "ms"),
    ):
        res.put(f"query.{k}", tot[k] / passes, unit)
