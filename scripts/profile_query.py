#!/usr/bin/env python
"""Time one gate query in isolation with the noop sink (guide §1.4).

Usage: python scripts/profile_query.py <name> [reps] [--scale N]

- builds the DataFrame, then times `write.format("noop")` reps times
  (default 3) after one untimed warmup lap, printing each lap;
- `--scale N` synthesizes the N-x scaled corpus first (same generator as
  bench.py's scale tiers) and runs the query against it;
- jobs are labelled with setJobDescription for UI/event-log reading;
- each lap runs inside a materialization scope, which frees the lap's
  checkpoint blocks after its timer stops.

The noop sink computes every column of every row, so this times the
computation, not the sink or a count()'s column pruning.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from moosestack_spark import registry
from moosestack_spark.session import get_spark, materialization_scope


def main() -> None:
    name = sys.argv[1]
    reps = 3
    scale = None
    args = sys.argv[2:]
    if args and args[0].isdigit():
        reps = int(args[0])
        args = args[1:]
    if len(args) >= 2 and args[0] == "--scale":
        scale = int(args[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("moosestack-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench._warm_up(spark)
    if scale:
        sf_dir = bench._make_scaled_dir(spark, sf_dir, factor=scale)
        print(f"scaled dir ({scale}x): {sf_dir}")
    fn = registry.QUERIES[name]

    def one(tag: str) -> float:
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        with materialization_scope(spark):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - start
        spark.sparkContext.setJobDescription(None)
        return dt

    print(f"{name}: warmup {one('warmup'):.3f}s")
    laps = [one(f"run{i}") for i in range(reps)]
    for i, dt in enumerate(laps):
        print(f"{name}: run{i} {dt:.3f}s")
    med = sorted(laps)[len(laps) // 2]
    print(f"{name}: median {med:.3f}s over {reps}")


if __name__ == "__main__":
    main()
