"""Per-query time decomposition for the optimization rounds.

For each named query, measures on a warm session:
  build_s  — wall-clock of calling the plan function (driver-side work:
             plan construction, any build-time Spark jobs like stream
             drains, collects, index writes),
  exec_s   — wall-clock of the noop-sink write of the returned frame,
  jobs     — Spark jobs submitted during build and exec (status tracker),
so "where does the time go" is measurable instead of guessed: a query
whose cost is build-side jobs needs a different fix (fewer passes /
cheaper maintenance) than one whose cost is the final plan's execution
(shuffles / join strategy / Python boundary).

Usage: python tools/profile_queries.py [query ...]   (default: bench.HEADLINE)
Writes JSON to stdout, one line per query, then a sorted summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import HEADLINE
    names = sys.argv[1:] or HEADLINE
    reps = int(os.environ.get("PROFILE_REPS", "2"))

    from pyspark_etl_project_spark.plans import all_queries
    from pyspark_etl_project_spark.session import get_spark

    spark = get_spark("profile")
    qs = all_queries()
    tracker = spark.sparkContext.statusTracker()

    # Warm the JVM once.
    qs["scan_filter_project"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    rows = []
    for name in names:
        if name not in qs:
            print(json.dumps({"name": name, "error": "not registered"}))
            continue
        best = None
        for _ in range(reps):
            j0 = tracker.getJobIdsForGroup(None)
            n0 = max(j0) if j0 else -1
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            jmid = tracker.getJobIdsForGroup(None)
            nmid = max(jmid) if jmid else n0
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            jend = tracker.getJobIdsForGroup(None)
            nend = max(jend) if jend else nmid
            rec = {
                "name": name,
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "build_jobs": nmid - n0,
                "exec_jobs": nend - nmid,
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
        rows.append(best)
        print(json.dumps(best))

    print("\n== sorted by total (best of %d reps) ==" % reps)
    for r in sorted(rows, key=lambda r: -r["total_s"]):
        print(f"{r['total_s']:8.3f}  build={r['build_s']:7.3f} ({r['build_jobs']:3d} jobs)"
              f"  exec={r['exec_s']:7.3f} ({r['exec_jobs']:3d} jobs)  {r['name']}")
    spark.stop()


if __name__ == "__main__":
    main()
