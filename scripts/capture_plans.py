#!/usr/bin/env python3
"""Capture .explain("formatted") for catalog entries into plans/<dir>/.

Usage: python scripts/capture_plans.py <outdir-suffix> [entry,entry,...]
Writes plans/$PLANS_DIR (default r15)/<entry>_<suffix>.txt for each requested entry (default:
all). Plans are the INITIAL (pre-AQE) formatted physical plans — the same
artifact tests/test_plans.py lints. Entries that materialize eagerly
(IVF stored layouts) still produce the final probe's plan.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from metaframe_spark.queries import QUERIES
    from metaframe_spark.session import get_session, persist_scope

    spark = get_session("capture_plans")
    outdir = Path(_REPO) / "plans" / os.environ.get("PLANS_DIR", "r15")
    outdir.mkdir(parents=True, exist_ok=True)
    names = sorted(only & set(QUERIES) if only else QUERIES)
    for name in names:
        try:
            with persist_scope(spark):
                df = QUERIES[name](spark, sf_dir)
                raw = df.to_spark() if hasattr(df, "to_spark") else df
                plan = raw._jdf.queryExecution().explainString(
                    raw._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
        except Exception as exc:  # noqa: BLE001 — record the failure
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        (outdir / f"{name}_{suffix}.txt").write_text(plan)
        print(name)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
