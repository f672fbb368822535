#!/usr/bin/env python
"""Capture .explain("formatted") output for named gate queries.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [name ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the bench
HEADLINE list plus the scale-tier names).  Streaming/etl queries execute at
build time, so their static plan is not capturable — they are skipped with a
stub noting why.  SPARK_GRAFT_SF_DIR selects the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moosestack_spark import registry
from moosestack_spark.session import get_spark


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("moosestack-spark-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        if name.startswith(registry.BUILD_TIME_PREFIXES):
            with open(path, "w") as fh:
                fh.write(
                    f"# {name}: streaming/etl query — executes at build "
                    "time; no static batch plan to capture.\n"
                )
            continue
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record the failure inline
            plan = f"# {name}: explain failed: {exc!r}\n"
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
