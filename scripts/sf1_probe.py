"""sf1 scale probe (VERDICT r9 item 2): build a full 10x dataset from
sf0.1 and measure per-query sf0.1 -> sf1 wall-time ratios across the
ENTIRE analytics suite, proving the 100 TB posture empirically instead
of by docstring.

Dataset construction (``/tmp/conduit_sf1``): every fact table is
replicated ``COPIES``x with CONSISTENT key shifts — copy *i* of
``orders`` references copy *i* of ``customer`` (o_custkey and
c_custkey shift by the same ``i*SHIFT``), lineitem's order/part/supp
FKs shift with their parents, events shift user_id so the user
population grows 10x with identical per-user behavior. ``region`` and
``nation`` stay fixed (TPC-H semantics: dimension tables are
SF-invariant).

Duplicate-density fix (round 12, VERDICT r11 item 6): replicated
``documents``/``embeddings`` copies are MUTATED, not verbatim —
copy *i* of a document replaces a fixed ``MUTATE_RATE`` pct of its
tokens with copy-tagged variants (deterministic per (doc_id, token
position, copy); token count preserved, n_chars recomputed), and
copy *i* of an embedding applies a copy-seeded coordinate permutation
+ sign flips (norm and component distribution preserved, expected
cross-copy cosine ~0). Verbatim replication made near-dup multiplicity
grow with SF (every doc had exactly 10 identical copies, so in-bucket
pair counts grew ~100x for 10x data) — the old 15.8x/9.3x pair-density
ratios measured OUTPUT EXPLOSION by fixture construction, not plan
behavior. With mutation the cross-copy similarity sits far below every
near-dup threshold (40 pct token noise -> 3-gram shingle jaccard
~0.12 vs the 0.5 gate; permuted vectors vs the 0.3 cosine gate), so
near-dup density per row stays constant with SF and the ratio table
measures the engine. Join fan-outs stay exactly 10x.

Exclusions (printed, not silent): the ``g_*`` connector-transport and
``p_*`` processor-semantics queries run on bounded fixtures
(SNAP_N/SECURE_N objects, 8000-row CDC scripts) by design — their
cost is protocol work, not table scans, so an sf ratio is
meaningless for them.

Timing: ``bench.warmup`` (at SF_SMALL) runs before any timed query and
each point is ``bench._time_query`` (min of SF1_RUNS), so the Python
worker-pool spin-up and the sf0.1 first scans are outside every
timing; sf1 first scans still land in each table's first sf1 read.

Usage:
  python scripts/sf1_probe.py [names...]      # default: full suite
Env: SF_SMALL (default /root/testdata/sf0.1), SF1_DIR
(default /tmp/conduit_sf1), SF1_RUNS (default 1).

Prints one line per query (small sec, sf1 sec, ratio, sf1 rows) and a
final PERF.md-ready markdown table sorted by ratio descending.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

SF_SMALL = os.environ.get("SF_SMALL", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("SF1_DIR", "/tmp/conduit_sf1")
COPIES = 10
SHIFT = 10_000_000

# fact table -> key columns that shift per copy (FKs shift with the
# PKs they reference, so referential integrity holds per copy)
REPLICATE = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
VERBATIM = ["region", "nation"]

MUTATE_RATE = 40  # pct of tokens replaced per replica copy (copy 0 = original)


def _mutate_copy(table: str, p, i: int):
    """Copy-i mutation for the near-dup-bearing tables (no-op for
    copy 0 and for every other table): token-level noise for
    documents, coordinate permutation + sign flips for embeddings —
    both deterministic, both preserving the column's scale-relevant
    shape (token count / vector norm)."""
    if i == 0 or table not in ("documents", "embeddings"):
        return p
    if table == "documents":
        p = p.withColumn(
            "text",
            F.expr(
                f"array_join(transform(split(text, ' '), (w, j) -> "
                f"CASE WHEN pmod(hash(doc_id, j, {i}), 100) < {MUTATE_RATE} "
                f"THEN concat('m{i}x', w) ELSE w END), ' ')"
            ),
        )
        return p.withColumn("n_chars", F.length("text").cast("long"))
    import random

    from conduit_spark.analytics.similarity import DIM

    rng = random.Random(1000 + i)
    perm = list(range(DIM))
    rng.shuffle(perm)
    signs = [rng.choice((1.0, -1.0)) for _ in range(DIM)]
    return p.withColumn(
        "embedding",
        F.array(
            *[
                (
                    F.element_at(F.col("embedding"), perm[j] + 1)
                    * F.lit(signs[j])
                ).cast("float")
                for j in range(DIM)
            ]
        ),
    )


SKIP_PREFIXES = ("g_", "p_")


def _complete(out: str) -> bool:
    # a bare exists() would accept a partially-written table from an
    # interrupted prior build and silently understate every ratio;
    # Spark writes _SUCCESS last, so that is the completion marker
    return os.path.exists(os.path.join(out, "_SUCCESS"))


def build_sf1(spark) -> None:
    os.makedirs(SF1_DIR, exist_ok=True)
    for table in VERBATIM:
        out = os.path.join(SF1_DIR, f"{table}.parquet")
        if not _complete(out):
            spark.read.parquet(
                os.path.join(SF_SMALL, f"{table}.parquet")
            ).write.mode("overwrite").parquet(out)
    for table, keys in REPLICATE.items():
        out = os.path.join(SF1_DIR, f"{table}.parquet")
        if _complete(out):
            continue
        base = spark.read.parquet(os.path.join(SF_SMALL, f"{table}.parquet"))
        parts = []
        for i in range(COPIES):
            p = base
            for k in keys:
                p = p.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            parts.append(_mutate_copy(table, p, i))
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(out)
        print(f"built {table} x{COPIES}", flush=True)


def main() -> None:
    from conduit_spark import get_spark

    import __spark_entry__ as entrymod
    from bench import _time_query, warmup

    runs = int(os.environ.get("SF1_RUNS", "1"))
    queries = entrymod.extended_queries()
    # validate CLI names BEFORE the expensive sf1 build — a typo should
    # fail in milliseconds, not after minutes of dataset replication
    unknown = [n for n in sys.argv[1:] if n not in queries]
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)} "
                 f"(see extended_queries() for the registry)")

    spark = get_spark("sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_sf1(spark)

    names = sys.argv[1:] or sorted(
        n for n in queries if not n.startswith(SKIP_PREFIXES)
    )
    skipped = sorted(n for n in queries if n.startswith(SKIP_PREFIXES))
    print(f"probing {len(names)} queries; skipping {len(skipped)} "
          f"fixture-bounded ({', '.join(skipped[:6])}, ...)", flush=True)

    warmup(spark, SF_SMALL, names)

    rows = []
    print(f"{'query':26} {'sf0.1':>8} {'sf1':>8} {'ratio':>6}", flush=True)
    for name in names:
        fn = queries[name]
        try:
            small = _time_query(spark, fn, SF_SMALL, runs)
            big = _time_query(spark, fn, SF1_DIR, runs)
        except Exception as e:  # keep probing; report at the end
            print(f"{name:26} ERROR {type(e).__name__}: {e}", flush=True)
            rows.append((name, None, None, None))
            continue
        ratio = big / small if small > 0 else float("inf")
        if ratio > 12:
            # a 10x-data query reading >12x slower is either genuinely
            # super-linear or absorbed one-time costs (first scan of a
            # table, codegen) — confirm before reporting an alarm
            small = min(small, _time_query(spark, fn, SF_SMALL, runs))
            big = min(big, _time_query(spark, fn, SF1_DIR, runs))
            ratio = big / small if small > 0 else float("inf")
        rows.append((name, small, big, ratio))
        print(f"{name:26} {small:8.2f} {big:8.2f} {ratio:6.2f}", flush=True)

    ok = [r for r in rows if r[3] is not None]
    print("\n## sf0.1 -> sf1 (10x) scaling ratios — PERF.md paste\n")
    print("| query | sf0.1 s | sf1 s | ratio |")
    print("|---|---|---|---|")
    for name, small, big, ratio in sorted(
        ok, key=lambda r: -r[3]
    ):
        print(f"| `{name}` | {small:.2f} | {big:.2f} | {ratio:.2f}x |")
    errs = [r[0] for r in rows if r[3] is None]
    if errs:
        print("errors:", ", ".join(errs))


if __name__ == "__main__":
    main()
