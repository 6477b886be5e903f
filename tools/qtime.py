#!/usr/bin/env python
"""Per-query timing + Spark job-count probe (optimization rounds).

Times each named query end to end into Spark's noop sink (1 warmup +
min of N reps) and additionally reports the number of Spark JOBS the
query launched (statusTracker over a per-query job group) — the
§1.2 "action count" evidence for fixture-heavy metadata queries whose
wall time is dominated by the ~0.5 s/action Python-datasource floor.

    python tools/qtime.py [--sf DIR] [--reps N] q214 q149 ...

Query names match by substring. Prints one JSON line per query:
{"q": name, "warm_sec": w, "min_sec": m, "reps": [...], "jobs": J}
(jobs = count in the LAST timed rep). An interleaved A/B loop runs
this script alternately from the HEAD worktree and the edited tree.
"""
from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 2
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    from columnar_format_spark.session import get_spark
    import columnar_format_spark.queries  # noqa: F401
    from columnar_format_spark.registry import QUERIES

    spark = get_spark(app_name="qtime")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    picked = [q for q in QUERIES if any(n in q for n in names)]

    def run(name: str, group: str) -> float:
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf).write.format("noop") \
            .mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        for t in spark.catalog.listTables():
            if t.name.startswith("q_") and t.isTemporary:
                spark.catalog.dropTempView(t.name)
        gc.collect()
        return dt

    for name in picked:
        w = run(name, f"{name}-warm")
        ts = []
        for r in range(reps):
            ts.append(round(run(name, f"{name}-rep{r}"), 4))
        jobs = len(tracker.getJobIdsForGroup(f"{name}-rep{reps - 1}"))
        print(json.dumps({"q": name, "warm_sec": round(w, 4),
                          "min_sec": min(ts), "reps": ts, "jobs": jobs}),
              flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
