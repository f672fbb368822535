#!/usr/bin/env python
"""Interleaved scale-tier measurement (VERDICT r12 #1).

The committed 300x minhash growth claim did not reproduce across records
because the 300x tier always ran LAST on a host that every record showed
degrading through the run (calib 1.572/1.681/1.898) while its 100x
denominator ran earlier, faster.  This harness removes the confound:

- laps ALTERNATE between the tiers (and optionally between two code
  arms) within one session, so both sides of every ratio sample the same
  host-state window;
- every lap is its own python+JVM subprocess (the bench's fresh-JVM
  discipline) and records a single-thread calib probe taken right before
  its timed run, so ratios can additionally be read calib-normalized.

Usage:
  python scripts/interleave_scale.py --query dedup_minhash_lsh \
      --factors 100,300 --rounds 4 [--arm label=repo_root ...] \
      [--out results.json]

With no --arm, the current repo is the single arm.  Every arm is timed
with this checkout's bench.py entries and warm-up, and each lap runs inside
session.materialization_scope, so an arm's engine must provide it.  Scaled
dirs are built once per factor under $TMPDIR/interleave_scaled_<factor>x
and reused across laps (inputs only — every timed lap recomputes the query
from parquet).

Lap mode (internal): interleave_scale.py --lap <repo_root> <query> <dir>
prints one JSON line {"calib": s, "sec": s}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _build_scaled_dir(factor: int) -> str:
    import tempfile

    out = os.path.join(tempfile.gettempdir(), f"interleave_scaled_{factor}x")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    sys.path.insert(0, REPO)
    import bench
    from moosestack_spark.session import get_spark

    spark = get_spark("interleave-scale-build")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = bench._make_scaled_dir(spark, sf_dir, factor)
    spark.stop()
    if os.path.exists(out):
        import shutil

        shutil.rmtree(out)
    os.rename(tmp, out)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out


def _lap(repo_root: str, query: str, data_dir: str) -> None:
    # The arm's engine, timed by this harness's bench spec and warm-up: the
    # package is imported from repo_root first, so the bench.py loaded by
    # path below resolves every moosestack_spark import against the arm.
    import importlib.util
    import time

    sys.path.insert(0, repo_root)
    from moosestack_spark import registry
    from moosestack_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    registry.load_all()
    spark = get_spark("interleave-scale-lap")
    spark.sparkContext.setLogLevel("ERROR")
    bench._warm_up(spark)
    lap = bench._scale_entry(spark, query, data_dir)  # runs in a scope
    lap()  # warmup lap: codegen/JIT, untimed
    calib = bench._calibrate()
    start = time.perf_counter()
    lap()
    sec = round(time.perf_counter() - start, 3)
    print(json.dumps({"calib": calib, "sec": sec}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="dedup_minhash_lsh")
    ap.add_argument("--factors", default="100,300")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--arm", action="append", default=[])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]
    arms = [a.split("=", 1) for a in args.arm] or [["head", REPO]]

    # factor 0 = "no scaled corpus": the lap gets the base SF dir (used by
    # the dir-independent cc_chain fixtures)
    dirs = {
        f: (
            _build_scaled_dir(f)
            if f
            else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        for f in factors
    }
    results: dict = {
        (label, f): [] for label, _ in arms for f in factors
    }
    for rnd in range(args.rounds):
        for label, root in arms:
            for f in factors:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--lap",
                        root,
                        args.query,
                        dirs[f],
                    ],
                    capture_output=True,
                    text=True,
                    timeout=1800,
                )
                try:
                    rec = json.loads(proc.stdout.strip().splitlines()[-1])
                except Exception:
                    sys.stderr.write(proc.stderr[-2000:])
                    rec = {"calib": None, "sec": None}
                rec["round"] = rnd
                results[(label, f)].append(rec)
                print(
                    f"lap round={rnd} arm={label} factor={f}x "
                    f"sec={rec['sec']} calib={rec['calib']}",
                    flush=True,
                )

    report: dict = {"query": args.query, "rounds": args.rounds, "arms": {}}
    for label, _ in arms:
        arm_rep: dict = {}
        for f in factors:
            recs = [r for r in results[(label, f)] if r["sec"] is not None]
            secs = [r["sec"] for r in recs]
            norm = [r["sec"] / r["calib"] for r in recs if r["calib"]]
            arm_rep[f"{f}x"] = {
                "raw": secs,
                "calib": [r["calib"] for r in recs],
                "median_sec": statistics.median(secs) if secs else None,
                "median_norm": round(statistics.median(norm), 3)
                if norm
                else None,
                "spread": round(max(secs) / min(secs), 2) if secs else None,
            }
        if len(factors) == 2 and all(
            arm_rep[f"{f}x"]["median_sec"] for f in factors
        ):
            lo, hi = factors
            arm_rep["growth_raw"] = round(
                arm_rep[f"{hi}x"]["median_sec"] / arm_rep[f"{lo}x"]["median_sec"], 2
            )
            arm_rep["growth_norm"] = round(
                arm_rep[f"{hi}x"]["median_norm"] / arm_rep[f"{lo}x"]["median_norm"], 2
            )
            # drift-robust per-round growth: both laps of a pair ran
            # back-to-back, so each round yields one same-host-state ratio
            pairs = [
                (a, b)
                for a, b in zip(results[(label, lo)], results[(label, hi)])
                if a["sec"] and b["sec"]
            ]
            arm_rep["growth_per_round"] = [
                round(b["sec"] / a["sec"], 2) for a, b in pairs
            ]
            if arm_rep["growth_per_round"]:
                arm_rep["growth_median_of_rounds"] = statistics.median(
                    arm_rep["growth_per_round"]
                )
        report["arms"][label] = arm_rep
    print(json.dumps(report, indent=1))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--lap":
        _lap(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        main()
