#!/usr/bin/env python3
"""Per-entry profiler: times each catalog entry's construction vs execution
and counts the Spark jobs it launches (fixed per-job overhead dominates at
sf0.1's row counts, so job count is the first thing to look at).

Usage: python scripts/profile_entry.py entry[,entry,...] [repeat]
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    names = sys.argv[1].split(",")
    repeat = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from metaframe_spark.queries import QUERIES
    from metaframe_spark.session import get_session, persist_scope

    spark = get_session("profile_entry")
    sc = spark.sparkContext

    def jobs_started() -> int:
        tracker = sc.statusTracker()
        return len(tracker.getJobIdsForGroup(None) or [])

    for name in names:
        fn = QUERIES[name]
        # warm
        t0 = time.monotonic()
        with persist_scope(spark):
            df = fn(spark, sf_dir)
            raw = df.to_spark() if hasattr(df, "to_spark") else df
            raw.write.format("noop").mode("overwrite").save()
        t_warm = time.monotonic() - t0
        best = []
        for _ in range(repeat):
            sc.setJobGroup(f"prof-{name}", name)
            j0 = sc.statusTracker().getJobIdsForGroup(f"prof-{name}")
            t0 = time.monotonic()
            with persist_scope(spark):
                df = fn(spark, sf_dir)
                t_cons = time.monotonic() - t0
                raw = df.to_spark() if hasattr(df, "to_spark") else df
                raw.write.format("noop").mode("overwrite").save()
                t_total = time.monotonic() - t0
            j1 = sc.statusTracker().getJobIdsForGroup(f"prof-{name}")
            best.append((t_total, t_cons, len(j1) - len(j0)))
            sc.setJobGroup(None, None)
        best.sort()
        t_total, t_cons, njobs = best[len(best) // 2]
        print(
            f"{name}: warm={t_warm:.2f}s median_total={t_total:.2f}s "
            f"construction={t_cons:.2f}s exec={t_total - t_cons:.2f}s "
            f"jobs/iter={njobs}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
