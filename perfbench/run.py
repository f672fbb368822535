"""Benchmark entry point; run from the root of a checkout of the engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts the application
under test (``app.py``) in its own process with the engine's SparkSession
sized to this host, drives it with the load generator (``loadgen.py``) in
another process (``headline``: with sequential query passes), checks the
outputs and prints, as its last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.  The
line before it is the full report: host and session, failures by class,
drift, every layer metric and the check results.  METRICS.md describes
every metric.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import queue  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import HEADLINE  # noqa: E402

SF = 0.1
TABLES = {
    "serve": {"customer", "orders", "lineitem", "events", "bar"},
    "ingest": set(),
    "ingest_shared": set(),
    "headline": {"region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"},
}
SERVE_WARMUP = 12  # three cycles over the four endpoints
INGEST_WARMUP = 8
INGEST_REQUESTS_PER_SECOND = 1.6  # measured phase: this many x --seconds bodies
# headline measures --seconds / this many passes, at least two: a fixed
# count, so that a slower engine takes longer instead of making fewer passes
HEADLINE_PASS_S = 3.0
RUN_BUDGET_S = 170.0  # a run ends within this many seconds of its start or fails


class Failure(Exception):
    pass


def remaining(deadline: float) -> float:
    left = deadline - time.monotonic()
    if left <= 0:
        raise Failure("run budget exhausted")
    return left


class Child:
    """A child process whose stdout lines are read into a queue."""

    def __init__(self, cmd: list[str], cwd: str, env: dict, log_path: str, deadline: float,
                 prefix: str = ""):
        self.deadline = deadline
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.lines: queue.Queue = queue.Queue()
        self.prefix = prefix
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(self.prefix):
                self.lines.put(line[len(self.prefix):].strip())
        self.lines.put(None)

    def next_line(self) -> str:
        try:
            line = self.lines.get(timeout=remaining(self.deadline))
        except queue.Empty:
            raise Failure(f"{self.proc.args[1]}: no reply in time") from None
        if line is None:
            raise Failure(f"{self.proc.args[1]} exited with {self.proc.wait()}")
        return line

    def send(self, text: str) -> None:
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()

    def call(self, cmd: dict) -> dict:
        self.send(json.dumps(cmd))
        return json.loads(self.next_line())

    def close(self) -> None:
        """Close its stdin, which asks it to finish."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass

    def stop(self) -> None:
        """Ask it to finish; terminate it if it does not within 20 s.  The
        app's JVM exits with the app."""
        self.close()
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.reader.join(timeout=5)
        self.log.close()


# -- statistics -----------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def p90(xs) -> float | None:
    """The 90th percentile, only when at least ten samples lie beyond it."""
    xs = sorted(xs)
    if len(xs) < 100:
        return None
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def rtt_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1e3


def by_endpoint(recs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        out.setdefault(r["endpoint"], []).append(r)
    return out


def latency(recs: list[dict], stat) -> float | None:
    """``stat`` of 2xx round trips per endpoint, combined over endpoints by
    the geometric mean (one endpoint: its own value)."""
    per = [stat([rtt_ms(r) for r in rs if r["status"] == 200])
           for rs in by_endpoint(recs).values()]
    if not per or any(v is None for v in per):
        return None
    return geomean(per)


def drift(recs: list[dict]) -> dict:
    """Median latency of the first and the last quarter of the measured
    operations, in the order they were sent; at least one operation of
    each kind (for ``headline``: the first and the last pass)."""
    q = max(len(recs) // 4, len(by_endpoint(recs)))
    return {"first_quarter_ms": latency(recs[:q], median),
            "last_quarter_ms": latency(recs[-q:], median)}


# -- per-layer --------------------------------------------------------------------


def match_spans(spans: list[dict], recs: list[dict], key) -> list[tuple[dict, dict]]:
    """Pair each span with the client request it served: same kind and key,
    and its interval inside the request's round trip."""
    pairs = []
    free = by_endpoint(recs)
    for s in spans:
        for r in free.get(s["kind"], []):
            if key(r) == s["key"] and r["start"] <= s["start"] and s["end"] <= r["end"]:
                pairs.append((s, r))
                free[s["kind"]].remove(r)
                break
    return pairs


def layer_medians(pairs, n_ops: int, stats: dict) -> dict:
    """Per-layer medians over the traced 2xx operations (per kind, then
    averaged over kinds) and process-wide counters per measured operation."""
    ok = [(s, r) for s, r in pairs if r["status"] == 200]
    if not ok:
        raise Failure("no traced operation was answered with a 2xx")
    kinds: dict[str, list] = {}
    for s, r in ok:
        kinds.setdefault(s["kind"], []).append((s, r))

    def per_kind(fn) -> float:
        return statistics.fmean(median([fn(s, r) for s, r in v]) for v in kinds.values())

    def engine_ms(s, r):
        return (s["end"] - s["start"]) * 1e3

    out = {
        "engine_ms": per_kind(engine_ms),
        "spark_ms": per_kind(lambda s, r: s["job_ms"]),
        "driver_ms": per_kind(lambda s, r: engine_ms(s, r) - s["job_ms"]),
        "spark_jobs": per_kind(lambda s, r: s["jobs"]),
        "executor_cpu_ms": per_kind(lambda s, r: s["cpu_ms"]),
        "gc_ms": stats["gc_ms"] / n_ops,
        "codegen_classes": stats["codegen_classes"] / n_ops,
        "codegen_ms": stats["codegen_ms"] / n_ops,
    }
    if "pass" not in ok[0][1]:  # serve and ingest: the HTTP layer around the engine
        out["http_ms"] = per_kind(lambda s, r: rtt_ms(r) - engine_ms(s, r))
    if "build_ms" in ok[0][0]:
        out["build_ms"] = per_kind(lambda s, r: s["build_ms"])
        out["collect_ms"] = per_kind(lambda s, r: engine_ms(s, r) - s["build_ms"])
    return out


def by_pass(recs: list[dict]) -> list[list[dict]]:
    passes: dict[int, list[dict]] = {}
    for r in recs:
        passes.setdefault(r["pass"], []).append(r)
    return list(passes.values())


def headline_layers(recs: list[dict], pairs, stats: dict) -> dict:
    """Per pass: build, plan and execute time (median over the passes);
    Spark stage counters (each query's median over its traced runs, summed
    over the queries); JVM counters (over all passes).  And the median
    time of each query."""
    passes = by_pass(recs)
    n = len(passes)
    out = {f"{part}_s": median(sum(r[f"{part}_s"] for r in p) for p in passes)
           for part in ("build", "plan", "exec")}

    def per_pass(field: str) -> float:
        spans: dict[str, list[float]] = {}
        for s, _ in pairs:
            spans.setdefault(s["kind"], []).append(s[field])
        return sum(median(v) for v in spans.values())

    out.update({
        "executor_cpu_s": per_pass("cpu_ms") / 1e3,
        "shuffle_mb": per_pass("shuffle_bytes") / 2**20,
        "spill_mb": per_pass("spill_bytes") / 2**20,
        "gc_s": stats["gc_ms"] / 1e3 / n,
        "codegen_s": stats["codegen_ms"] / 1e3 / n,
        "persisted_rdds": stats["persisted_rdds_now"],
    })
    for name, rs in by_endpoint(recs).items():
        out[f"q.{name}_s"] = median(rtt_ms(r) / 1e3 for r in rs)
    return out


def trace_overhead_pct(recs: list[dict], pairs) -> float:
    """Median round trip of the traced over the untraced 2xx operations of
    the same run, per kind, combined by the geometric mean, minus 1."""
    traced = {id(r) for _, r in pairs}
    ratios = []
    for rs in by_endpoint([r for r in recs if r["status"] == 200]).values():
        on = [rtt_ms(r) for r in rs if id(r) in traced]
        off = [rtt_ms(r) for r in rs if id(r) not in traced]
        if on and off:
            ratios.append(median(on) / median(off))
    return (geomean(ratios) - 1.0) * 100.0 if ratios else float("nan")


# -- host ---------------------------------------------------------------------------


def calibrate_s() -> float:
    """Time of a fixed pure-Python loop: the host's speed when the run
    starts and ends, to tell a slow host from a slow engine."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others between two readings:
    a slow host shows here, not in the engine's own numbers."""
    return 100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1),
            "loadavg_before": os.getloadavg(), "calib_before_s": calibrate_s(),
            "ticks_before": cpu_ticks()}


# -- workloads --------------------------------------------------------------------


def run_load(args, app: Child, run_dir: str, env: dict, t_setup: float
             ) -> tuple[dict, dict, float]:
    ready = json.loads(app.next_line())
    out = os.path.join(run_dir, "requests.json")
    warmup = SERVE_WARMUP if args.workload == "serve" else INGEST_WARMUP
    requests = round(INGEST_REQUESTS_PER_SECOND * args.seconds)
    gen = Child([sys.executable, os.path.join(HERE, "loadgen.py"), "--workload", args.workload,
                 "--seed", str(args.seed), "--port", str(ready["port"]),
                 "--seconds", str(args.seconds), "--warmup", str(warmup),
                 "--requests", str(requests), "--out", out],
                cwd=run_dir, env=env, log_path=os.path.join(run_dir, "loadgen.log"),
                deadline=app.deadline)
    try:
        if gen.next_line() != "warm":
            raise Failure("load generator: unexpected output")
        app.call({"cmd": "mark"})
        setup_s = time.monotonic() - t_setup
        ticks = cpu_ticks()
        gen.send("go")
        if gen.next_line() != "done":
            raise Failure("load generator: unexpected output")
        ready["steal_pct_measured"] = steal_pct(ticks, cpu_ticks())
    finally:
        gen.stop()
    if gen.proc.returncode != 0:
        raise Failure(f"load generator exited with {gen.proc.returncode}")
    stats = app.call({"cmd": "stats"})["stats"]
    with open(out) as fh:
        results = json.load(fh)
    return ready, {"results": results, "stats": stats}, setup_s


def run_headline(args, app: Child, t_setup: float) -> tuple[dict, dict, dict, float]:
    """The warm-up is the oracle check of every query.  Then the measured
    passes; then the oracle check again."""
    ready = json.loads(app.next_line())
    warmup = app.call({"cmd": "check", "queries": HEADLINE})["check"]
    app.call({"cmd": "mark"})
    setup_s = time.monotonic() - t_setup
    ticks = cpu_ticks()
    measured: list[dict] = []
    t0 = time.monotonic()
    for _ in range(max(2, round(args.seconds / HEADLINE_PASS_S))):
        measured += app.call({"cmd": "pass"})["records"]
    t1 = time.monotonic()
    ready["steal_pct_measured"] = steal_pct(ticks, cpu_ticks())
    stats = app.call({"cmd": "stats"})["stats"]
    after = app.call({"cmd": "check", "queries": HEADLINE})["check"]
    check = {"ok": warmup["ok"] and after["ok"], "checked": HEADLINE,
             "failed_in_warmup": warmup["failed"], "failed_after": after["failed"]}
    results = {"t0": t0, "t1": t1, "warmup": warmup["records"], "measured": measured}
    return ready, {"results": results, "stats": stats}, check, setup_s


def summarize(args, ready, run, setup_s, check) -> tuple[dict, dict, dict]:
    results, stats = run["results"], run["stats"]
    recs = results["measured"]
    ok = [r for r in recs if r["status"] == 200]
    window = results["t1"] - results["t0"]
    if args.workload.startswith("ingest"):
        throughput = sum(r["body"]["inserted"] for r in ok) / window
    else:
        throughput = len(ok) / window
    end_to_end = {
        "latency_p50_ms": latency(recs, median),
        "latency_p90_ms": latency(recs, p90),
        "throughput_per_s": throughput,
        "setup_s": setup_s,
        "peak_rss_mb": sum(stats["peak_rss_mb"].values()),
    }
    if args.workload == "headline":
        passes = by_pass(recs)
        end_to_end["pass_s"] = median(sum(rtt_ms(r) for r in p) / 1e3 for p in passes)
    layers: dict = {}
    if args.trace:
        if args.workload == "serve":
            def key(r):
                return json.dumps({k: str(v) for k, v in r["params"].items()}, sort_keys=True)
        elif args.workload.startswith("ingest"):
            def key(r):
                return str(r["first_id"])
        else:
            def key(r):
                return r["endpoint"]
        pairs = match_spans(stats["spans"], recs, key)
        layers = layer_medians(pairs, len(recs), stats)
        layers["trace_overhead_pct"] = trace_overhead_pct(recs, pairs)
        layers["traced_ops"] = len(pairs)
        if args.workload.startswith("ingest"):
            layers.update({
                "pipeline_ms": layers["engine_ms"],
                "files_per_request": (check["table_files"] + check["dlq_files"]) / len(recs),
                "bytes_per_row": check["table_bytes"] / max(1, check["stored_rows"]),
                "manifest_kb": check["manifest_bytes"] / 1024.0,
                "orphan_rows": check["orphan_rows"],
            })
        elif args.workload == "headline":
            layers.update(headline_layers(recs, pairs, stats))
    detail = {
        "requests": len(recs), "ok": len(ok), "window_s": window,
        "failures": dict(Counter(f"{r['status']}:{r.get('error_class')}"
                                 for r in recs if r["status"] != 200)),
        "failure_examples": [r.get("error") for r in recs if r["status"] != 200][:3],
        "warmup": {"requests": len(results["warmup"]),
                   "ok": sum(r["status"] == 200 for r in results["warmup"]),
                   "per_endpoint_p50_ms": {k: median([rtt_ms(r) for r in v])
                                           for k, v in by_endpoint(results["warmup"]).items()}},
        "drift": drift(recs),
        "per_endpoint_p50_ms": {k: median([rtt_ms(r) for r in v if r["status"] == 200])
                                for k, v in by_endpoint(recs).items()},
        "session_s": ready["session_s"], "fixtures_s": ready["fixtures_s"],
        "steal_pct_measured": ready["steal_pct_measured"],
        "spark_conf": ready["spark_conf"],
        "peak_rss_mb": stats["peak_rss_mb"],
    }
    return end_to_end, layers, detail


# The result line carries exactly the metrics of BENCHMARK.json; every
# workload has all of them.  The report carries the rest.
RESULT_METRICS = {
    0: ["latency_p50_ms", "throughput_per_s", "setup_s"],
    1: ["engine_ms", "driver_ms", "spark_ms", "spark_jobs", "executor_cpu_ms", "gc_ms",
        "codegen_classes", "codegen_ms", "trace_overhead_pct"],
}
UNITS = {"_ms": "ms", "_per_s": "1/s", "_s": "s", "_mb": "MiB", "_kb": "KiB", "_pct": "%"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    # ingest_shared is not listed in BENCHMARK.json: see workloads.ingest_route
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest", "ingest_shared", "headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its children (the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "moosestack_spark"))):
        print("perfbench: no engine checkout around perfbench/ "
              "(__spark_entry__.py and moosestack_spark/ are missing)", file=sys.stderr)
        return 2

    from datagen import generate
    import checks

    host = host_info()
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, wh = os.path.join(run_dir, "data"), os.path.join(run_dir, "warehouse")
    for d in (data, wh, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        os.makedirs(d)
    t0 = time.monotonic()
    rows = generate(data, args.seed, SF, TABLES[args.workload])
    host["datagen_s"] = time.monotonic() - t0

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    # set-up time runs from the launch of the application under test
    t_setup = time.monotonic()
    app = Child([sys.executable, os.path.join(HERE, "app.py"), "--workload", args.workload,
                 "--data", data, "--warehouse", wh, "--trace", str(args.trace)],
                cwd=run_dir, env=env, log_path=os.path.join(run_dir, "app.log"),
                deadline=T_START + RUN_BUDGET_S, prefix="@@ ")
    try:
        if args.workload == "headline":
            ready, run, check, setup_s = run_headline(args, app, t_setup)
        else:
            ready, run, setup_s = run_load(args, app, run_dir, env, t_setup)
            app.close()  # the app shuts down while its outputs are checked
            recs = run["results"]["measured"]
            if args.workload == "serve":
                check = checks.check_serve(data, recs, args.seed)
            else:
                check = checks.check_ingest(wh, recs, args.seed)
        end_to_end, layers, detail = summarize(args, ready, run, setup_s, check)
        recs = run["results"]["measured"]
        attempted, failed = len(recs), sum(r["status"] != 200 for r in recs)
    except Failure as exc:
        print(f"perfbench: {exc}; logs in {run_dir}", file=sys.stderr)
        return 1
    finally:
        app.stop()

    host["loadavg_after"] = os.getloadavg()
    host["calib_after_s"] = calibrate_s()
    host["steal_pct_run"] = steal_pct(host.pop("ticks_before"), cpu_ticks())
    prefix = f"{args.workload}."
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "input_rows": rows, "check": check,
        "end_to_end": end_to_end, "layers": {prefix + k: v for k, v in layers.items()},
        **detail,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench", "reports"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "reports",
                           os.path.basename(run_dir) + ".json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    values = layers if args.trace else end_to_end
    metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in RESULT_METRICS[args.trace]}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": bool(check["ok"]), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
