"""Warm-isolated query timing for same-window A/B comparisons.

Wall time on this class of shared host drifts for hours at a time, so
absolute readings across sessions are not comparable. This harness
uses the bench's own session defaults, ``bench.warmup`` and
``bench._time_query`` (min-of-N noop-sink timing) and times the
``q2_min_cost_supplier`` anchor before AND after the requested
queries, so every measurement ships with its own weather reading.

Usage:
    python scripts/warm_measure.py [-n RUNS] [--jobs] name [name...]

``--jobs`` additionally reports the jobs and stages of the last timed
run of each query (``bench.new_jobs``, the counts the bench gate
compares).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", "--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--jobs", action="store_true",
                    help="report per-query Spark job and stage counts too")
    args = ap.parse_args()

    from conduit_spark import get_spark

    import __spark_entry__ as entrymod
    from bench import _time_query, warmup

    spark = get_spark("conduit-spark-warm-measure")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf
    warmup(spark, sf_dir, args.names)
    all_queries = entrymod.extended_queries()

    anchor = "q2_min_cost_supplier"
    t_anchor0 = _time_query(spark, all_queries[anchor], sf_dir, 2)
    print(f"anchor-pre: {anchor} {t_anchor0:.3f}s", flush=True)
    results = {}
    for name in args.names:
        if name not in all_queries:
            print(f"{name}: NOT IN extended_queries()")
            continue
        counts = {} if args.jobs else None
        t = _time_query(spark, all_queries[name], sf_dir, args.runs, counts)
        extra = "".join(f" {k}={v}" for k, v in (counts or {}).items())
        results[name] = t
        print(f"{name}: {t:.3f}s (min of {args.runs}){extra}", flush=True)
    t_anchor1 = _time_query(spark, all_queries[anchor], sf_dir, 2)
    print(f"anchor-post: {anchor} {t_anchor1:.3f}s", flush=True)
    total = sum(results.values())
    print(f"total: {total:.3f}s over {len(results)} queries; "
          f"anchor {t_anchor0:.3f}/{t_anchor1:.3f}")


if __name__ == "__main__":
    main()
