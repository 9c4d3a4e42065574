"""10x scaling probe for the fixture-bounded wire-transport queries
(VERDICT r10 item 8).

The sf1 probe (scripts/sf1_probe.py) excludes the ``g_*``/``p_*``
protocol queries by construction — their work is bounded by the seed
constants (SNAP_N / SECURE_N / PG_LIVE_N), not by SF, so a 10x DATASET
says nothing about them. This probe scales the SEED instead: it runs
each wire query in a fresh child process at the committed constants
and again at 10x (via the CONDUIT_SNAP_N / CONDUIT_SECURE_N /
CONDUIT_PG_LIVE_N env overrides pipeline_queries reads at import),
and prints the measured ratio per transport — the same evidence class
the analytics suite got from the sf1 probe (PERF.md round-10 table).

Each child runs ``bench.warmup`` first, which seeds the query's wire
endpoint at the scaled constants; the timed region therefore covers
list+fetch+decode only, as in the bench, and endpoint seeding is no
longer part of the measured ratio.

Each point is the minimum of ``RUNS`` timed runs in its child (the
warm in-session min-of-3 the bench protocol uses): one run a point
could not resolve a 20% scaling change, since the base time of one
query moved 1.39–2.31 s between single runs of the same code.

Each child also verifies its query against the DuckDB oracle AT THE
SCALED N (the oracle SQL embeds the same env-scaled constants), so a
transport that only "scales" by dropping records cannot pass.

Usage: python scripts/wire_scale_probe.py [query ...]
Env: WIRE_PROBE_SF_DIR (default /root/testdata/sf0.1),
     WIRE_PROBE_MULT (default 10).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# transport -> (query name, seed-constant env knobs scaled by the probe)
WIRE_QUERIES = {
    "s3-wire": ("g_s3_wire_snapshot", ("CONDUIT_SNAP_N",)),
    "s3-sigv4-https": ("g_s3_wire_secure_snapshot", ("CONDUIT_SECURE_N",)),
    "kafka-wire": ("g_kafka_wire_snapshot", ("CONDUIT_SNAP_N",)),
    "kafka-sasl-ssl": ("g_kafka_wire_sasl_snapshot", ("CONDUIT_SNAP_N",)),
    "pg-live-walsender": ("g_pg_live_wal_cdc", ("CONDUIT_PG_LIVE_N",)),
}
RUNS = 3

def _base_constants() -> dict[str, int]:
    """Read the committed seed constants from pipeline_queries itself
    (env overrides in the parent apply consistently to both points) —
    duplicating the numbers here would let the probe silently measure
    stale values after a constant change."""
    sys.path.insert(0, REPO)
    from conduit_spark.analytics import pipeline_queries as pq

    return {
        "CONDUIT_SNAP_N": pq.SNAP_N,
        "CONDUIT_SECURE_N": pq.SECURE_N,
        "CONDUIT_PG_LIVE_N": pq.PG_LIVE_N,
    }


def _child(name: str) -> None:
    """Time one query (construction + noop write, min of ``RUNS``) and
    oracle-check it at whatever seed constants the environment
    carries."""
    import time

    sys.path.insert(0, REPO)
    import duckdb

    import __spark_entry__ as entrymod
    from bench import warmup
    from conduit_spark import get_spark

    sf_dir = os.environ.get("WIRE_PROBE_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("wire-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir, [name])

    queries = entrymod.extended_queries()
    oracles = entrymod.extended_oracle_sql()
    runs = []
    for _ in range(RUNS):
        t0 = time.monotonic()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.monotonic() - t0)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    skey = lambda t: tuple((v is None, str(v)) for v in t)  # noqa: E731
    srows = sorted((tuple(r) for r in df.collect()), key=skey)
    drows = sorted((tuple(r) for r in con.execute(oracles[name]).fetchall()),
                   key=skey)
    print(json.dumps({
        "query": name,
        "sec": round(min(runs), 3),
        "runs": [round(t, 3) for t in runs],
        "rows": len(srows),
        "oracle_match": srows == drows,
    }))


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        _child(sys.argv[2])
        return

    mult = int(os.environ.get("WIRE_PROBE_MULT", "10"))
    known = {q for q, _ in WIRE_QUERIES.values()}
    unknown = [n for n in sys.argv[1:] if n not in known]
    if unknown:
        # fail fast like sf1_probe: a typo must not yield an
        # empty-but-green probe run
        sys.exit(f"unknown wire query name(s): {', '.join(unknown)} "
                 f"(known: {', '.join(sorted(known))})")
    wanted = sys.argv[1:] or sorted(known)
    base_consts = _base_constants()
    rows = []
    for transport, (name, knobs) in WIRE_QUERIES.items():
        if name not in wanted:
            continue
        results = {}
        for label, m in (("base", 1), (f"x{mult}", mult)):
            env = dict(os.environ)
            for k in knobs:
                env[k] = str(base_consts[k] * m)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", name],
                env=env, capture_output=True, text=True, timeout=1800,
            )
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            try:
                results[label] = json.loads(line)
            except ValueError:
                print(f"{transport} {label}: CHILD FAILED\n{out.stderr[-2000:]}",
                      flush=True)
                results[label] = None
        b, s = results.get("base"), results.get(f"x{mult}")
        if b and s:
            ratio = s["sec"] / b["sec"] if b["sec"] > 0 else float("inf")
            rows.append((transport, name, b, s, ratio))
            print(f"{transport:18} {name:28} base={b['sec']:6.2f}s "
                  f"(n={b['rows']}, oracle={b['oracle_match']}) "
                  f"x{mult}={s['sec']:6.2f}s (n={s['rows']}, "
                  f"oracle={s['oracle_match']}) ratio={ratio:.2f}x",
                  flush=True)
    print()
    print(f"| transport | query | base s | x{mult} s | ratio |")
    print("|---|---|---|---|---|")
    for transport, name, b, s, ratio in rows:
        print(f"| {transport} | `{name}` | {b['sec']:.2f} | {s['sec']:.2f} "
              f"| {ratio:.2f}x |")
    bad = [r for r in rows
           if not (r[2]["oracle_match"] and r[3]["oracle_match"])]
    if bad:
        sys.exit(f"oracle mismatch at scaled N: {[r[1] for r in bad]}")


if __name__ == "__main__":
    main()
