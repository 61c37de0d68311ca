#!/usr/bin/env python
"""Per-job profile of one bench entry: run it (optionally twice, to get a
warm-state read), then dump every Spark job's wall time, stage count, task
count, and description from the AppStatusStore — the measurement tool the
optimization round's per-operator checklist reads (guide §1: measure first;
label jobs; attribute time to jobs/stages, not guesses).

Usage: python tools/profile_jobs.py <entry> [reps]
  entry: a gate query name, a non-gate row name
         (``plans.rotated_queries()``), or one of the tick names
         (etl_hashtag_tick, stream_dedup_tick, stream_hh_tick,
          ann_query_tick, kmeans_refine_tick)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def dump_jobs(spark, since_job: int) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    rows = []
    last = since_job
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid < since_job:
            continue
        last = max(last, jid + 1)
        try:
            t0 = j.submissionTime().get().getTime()
            t1 = j.completionTime().get().getTime()
            dur = (t1 - t0) / 1000.0
        except Exception:
            dur = -1.0
        desc = j.description()
        desc = desc.get() if desc.isDefined() else ""
        desc = " ".join(str(desc).split())[:90]
        rows.append((jid, dur, j.numTasks(), j.stageIds().size(), desc))
    rows.sort()
    tot = sum(r[1] for r in rows if r[1] > 0)
    ntasks = sum(r[2] for r in rows)
    print(f"--- {len(rows)} jobs, {ntasks} tasks, total job wall {tot:.2f}s "
          f"(overlap possible) ---")
    for jid, dur, ntask, nstage, desc in sorted(rows, key=lambda r: -r[1])[:25]:
        print(f"job {jid:4d}  {dur:7.3f}s  tasks={ntask:5d} stages={nstage:2d}  {desc}")
    return last


def main() -> int:
    entry = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import bench
    import __spark_entry__ as entrymod
    from etl_instagram_spark.plans import rotated_queries
    from etl_instagram_spark.session import get_spark

    ticks = {
        "etl_hashtag_tick": bench.etl_tick_seconds,
        "stream_dedup_tick": bench.stream_dedup_tick_seconds,
        "stream_hh_tick": bench.stream_hh_tick_seconds,
        "ann_query_tick": bench.ann_query_tick_seconds,
        "kmeans_refine_tick": bench.kmeans_refine_tick_seconds,
    }
    queries = dict(entrymod.queries())
    queries.update((n, fn) for n, (fn, _) in rotated_queries().items())
    if entry not in ticks and entry not in queries:
        raise SystemExit(f"no such entry: {entry}")
    spark = get_spark("profile")
    spark.range(1).count()
    if entry in ticks:
        fn = lambda: ticks[entry](spark)  # noqa: E731
    else:
        q = queries[entry]
        # warm the tables like bench.py does
        from etl_instagram_spark.sources.tables import TABLE_NAMES, load_table
        for t in TABLE_NAMES:
            try:
                load_table(spark, SF_DIR, t).count()
            except Exception:
                pass
        fn = lambda: q(spark, SF_DIR).collect()  # noqa: E731

    since = 0
    for r in range(reps):
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        print(f"\n===== rep {r}: wall {wall:.3f}s =====")
        since = dump_jobs(spark, since)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
