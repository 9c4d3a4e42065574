"""Per-stage breakdown of one query run — where the wall-clock goes.

Runs each named query once warm (after ``bench.warmup`` and one untimed
priming run), takes the timed run's jobs from ``bench.new_jobs``, then
reads the Spark UI REST API for those jobs and the stages they ran:
per-stage executor-run time, shuffle read/write bytes, input bytes,
task counts. Every stage of each job is listed, skipped ones (a
shuffle an earlier job already wrote) as SKIPPED rows; the header's
stage count is the bench gate's, which leaves them out. This answers
"is the time in the scan, an exchange, or the final agg" without
screenshots (guide §1.1/§7.1).

Usage: python scripts/stage_profile.py name [name...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from conduit_spark import get_spark

    import __spark_entry__ as entrymod
    from bench import _time_query, new_jobs, warmup

    spark = get_spark("conduit-spark-stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir, names)

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    all_queries = entrymod.extended_queries()

    for name in names:
        if name not in all_queries:
            print(f"{name}: NOT FOUND")
            continue
        # priming run (untimed): codegen + page cache
        _time_query(spark, all_queries[name], sf_dir, 1)
        with new_jobs(spark) as jobs:
            t0 = time.monotonic()
            df = all_queries[name](spark, sf_dir)
            t_build = time.monotonic() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.monotonic() - t0
        ran = {s for ids in jobs.values() for s in ids}
        stage_ids = set()
        job_rows = []
        for j in jobs:
            try:
                ji = _rest(ui, f"applications/{app_id}/jobs/{j}")
                stage_ids.update(ji.get("stageIds", []))
                job_rows.append((j, ji.get("submissionTime", ""),
                                 ji.get("completionTime", ""),
                                 ji.get("numTasks", 0)))
            except Exception as e:  # noqa: BLE001
                print(f"  job {j}: REST error {e}")
        print(f"\n=== {name}: total {t_total:.3f}s (build {t_build:.3f}s), "
              f"{len(jobs)} jobs, {len(ran)} stages ran ===")
        # job timeline: wall duration of each job + the GAP since the
        # previous job finished (driver-side planning/py4j time)
        import datetime as _dt

        def _p(ts):
            return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z")

        prev_end = None
        for j, sub, comp, ntasks in job_rows:
            try:
                s, c = _p(sub), _p(comp)
                dur = (c - s).total_seconds()
                gap = (s - prev_end).total_seconds() if prev_end else 0.0
                prev_end = c
                print(f"  job {j:4d} wall={dur:6.3f}s gap_before={gap:6.3f}s "
                      f"tasks={ntasks}")
            except Exception:  # noqa: BLE001
                pass
        rows = []
        for sid in sorted(stage_ids):
            try:
                infos = _rest(ui, f"applications/{app_id}/stages/{sid}")
            except Exception:  # noqa: BLE001
                continue
            for si in infos:
                if si.get("status") == "SKIPPED":
                    rows.append((0.0, sid, 0, "SKIPPED", 0, 0, 0,
                                 si.get("name", "")))
                    continue
                rt = si.get("executorRunTime", 0) / 1000.0
                rows.append((
                    rt, sid, si.get("numCompleteTasks", 0),
                    si.get("status", "?"),
                    si.get("inputBytes", 0) >> 20,
                    si.get("shuffleReadBytes", 0) >> 20,
                    si.get("shuffleWriteBytes", 0) >> 20,
                    si.get("name", ""),
                ))
        rows.sort(reverse=True)
        for rt, sid, nt, stt, inp, sr, sw, nm in rows[:14]:
            print(f"  stage {sid:4d} run={rt:7.2f}s tasks={nt:3d} "
                  f"in={inp}MB sr={sr}MB sw={sw}MB  "
                  f"{'SKIPPED ' if stt == 'SKIPPED' else ''}{nm[:70]}")


if __name__ == "__main__":
    main()
