"""Physical-plan audit: measures the scale-relevant properties of each
registered query's plan (or only the queries named on the command
line) — exchange (shuffle) count, join strategies, whole-stage-codegen
coverage, parquet filter pushdown, and read-schema width. The numbers
feed SCALE.md; re-run after plan-affecting changes.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(plan: str) -> dict:
    # Each physical node appears exactly ONCE as a detail-section
    # header '(N) NodeName' — counting those is the unit. (The old
    # bare `plan.count("Exchange")` counted every node TWICE — tree
    # line + detail header — and folded BroadcastExchange/
    # ReusedExchange into the shuffle count, inflating 'shuffles' by
    # 2-4x; verified against a 1-shuffle plan that reported 4.)
    names = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
              if p.strip()]
    part_filtered = [p for p in
                     re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
                     if p.strip()]
    read_cols = [s.count(",") + 1 for s in re.findall(r"ReadSchema: (\S+)", plan)]
    return {
        # Exchange = a real shuffle; broadcast/reused exchanges are
        # reported separately — they are not data shuffles.
        "exchanges": names.count("Exchange"),
        "broadcast_exchanges": names.count("BroadcastExchange"),
        "reused_exchanges": names.count("ReusedExchange"),
        "bhj": names.count("BroadcastHashJoin"),
        "smj": names.count("SortMergeJoin"),
        "total_nodes": len(names),
        "scans_with_pushdown": len(pushed),
        "partition_filtered_scans": len(part_filtered),
        "read_cols": read_cols,
    }


def main() -> None:
    from pyspark_etl_project_spark.plans import all_queries
    from pyspark_etl_project_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-audit")
    qs = all_queries()
    names = sys.argv[2:] or list(qs)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for n in names:
        if n not in qs:
            print(f"{n}: UNKNOWN")
            continue
        df = qs[n](spark, sf_dir)
        a = audit(df._jdf.queryExecution().explainString(mode))
        print(f"{n}: shuffles={a['exchanges']} "
              f"broadcast_exchanges={a['broadcast_exchanges']} "
              f"reused_exchanges={a['reused_exchanges']} "
              f"broadcast_joins={a['bhj']} "
              f"sortmerge_joins={a['smj']} nodes={a['total_nodes']} "
              f"pushdown_scans={a['scans_with_pushdown']} "
              f"partition_filtered_scans={a['partition_filtered_scans']} "
              f"read_cols={a['read_cols']}")
    spark.stop()


if __name__ == "__main__":
    main()
