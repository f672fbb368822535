"""Closed-loop load generator: at most two client threads, each sending its
next request only after the previous reply.

    python3 perfbench/loadgen.py --workload serve --seed 1 --port 8080 \\
        --seconds 10 --warmup 8 --out requests.json

``serve`` runs for ``--seconds`` after the warm-up; ``ingest`` and
``ingest_shared`` send exactly ``--requests`` bodies, to one pipeline per
client (``ingest``) or all to one pipeline (``ingest_shared``, see
``workloads.ingest_route``).  The warm-up (``--warmup`` requests, to
warm-up pipelines for the ingest workloads) is not timed.  The generator prints
``warm`` when it is done, waits for a line on stdin, runs the measured
phase, writes every request record to ``--out`` and prints ``done``.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import re
import sys
import threading
import time
from urllib.parse import urlencode

from workloads import CLIENTS, ingest_request, ingest_route, serve_request

TIMEOUT_S = 120
ERROR_CLASS = re.compile(r"\b[A-Z][A-Za-z]*(?:Exception|Error)\b|\[Errno \d+\]")


def send(port: int, method: str, path: str, body: bytes | None) -> dict:
    """One request on its own connection (the server speaks HTTP/1.0)."""
    rec: dict = {"start": time.monotonic()}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        payload = resp.read()
        rec["end"] = time.monotonic()
        rec["status"] = resp.status
        rec["body"] = json.loads(payload) if payload else None
    except (OSError, http.client.HTTPException, ValueError) as exc:
        rec["end"] = time.monotonic()
        rec["status"] = 0
        rec["body"] = None
        rec["error_class"] = f"client:{type(exc).__name__}"
    finally:
        conn.close()
    if rec["status"] != 200 and "error_class" not in rec:
        msg = rec["body"].get("error", "") if isinstance(rec["body"], dict) else ""
        m = ERROR_CLASS.search(msg)
        rec["error_class"] = m.group(0) if m else "other"
        rec["error"] = msg[:300]
    return rec


def run_phase(workload: str, seed: int, phase: str, port: int,
              deadline: float | None, count: int | None) -> list[dict]:
    """Closed loop over request indices 0, 1, 2, ... shared by the clients."""
    counter = itertools.count()
    lock = threading.Lock()
    records: list[dict] = []

    def client(c: int) -> None:
        while True:
            with lock:
                k = next(counter)
            if count is not None and k >= count:
                return
            if deadline is not None and time.monotonic() >= deadline:
                return
            if workload == "serve":
                name, params = serve_request(seed, phase, k)
                rec = send(port, "GET", f"/api/{name}?{urlencode(params)}", None)
                rec.update(k=k, endpoint=name, params=params)
            else:
                body, bad_id = ingest_request(seed, phase, k)
                route = ingest_route(workload, phase, c)
                rec = send(port, "POST", f"/ingest/{route}", json.dumps(body).encode())
                rec.update(k=k, endpoint=route, first_id=body[0]["event_id"],
                           n=len(body), bad_id=bad_id)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records, key=lambda r: r["k"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "ingest_shared"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--warmup", type=int, default=8)
    ap.add_argument("--requests", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    warm = run_phase(args.workload, args.seed, "warmup", args.port, None, args.warmup)
    print("warm", flush=True)
    sys.stdin.readline()
    t0 = time.monotonic()
    if args.workload == "serve":
        measured = run_phase("serve", args.seed, "measure", args.port, t0 + args.seconds, None)
    else:
        measured = run_phase(args.workload, args.seed, "measure", args.port, None, args.requests)
    with open(args.out, "w") as fh:
        json.dump({"t0": t0, "t1": time.monotonic(), "warmup": warm, "measured": measured}, fh)
    print("done", flush=True)


if __name__ == "__main__":
    main()
