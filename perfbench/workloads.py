"""What each workload sends, drawn from the workload seed.

Shared by the load generator, which sends the requests, and by the
output checks, which recompute the answers; the application under test
sees only the requests.
"""

from __future__ import annotations

import datetime as dt
import random

from datagen import EVENT_TYPES, SEGMENTS

# The queries of the ``headline`` workload: two of the frozen 31-query
# HEADLINE set of bench.py, one from ``operators/`` and one from ``ops/``.
# A run with its warm-up, three measured passes and the oracle checks
# takes about 40 s on 4 cores; a pass over all 31 queries alone takes
# about 30 s there, a cold one about 60 s.  ``streaming_windowed_agg`` is
# left out: 14 s cold and 3.3 s a pass, with run-to-run swings of 30%.
HEADLINE = [
    "agg_count_distinct",  # operators/aggregates: distinct count over a shuffle
    "similarity_ivf",      # ops/similarity: mapInPandas (Arrow) scoring kernel
]

CLIENTS = 2  # client threads of the load generator

ENDPOINTS = ["top_customers", "daily_events", "bar_rollup", "pricing_summary"]
BAR_ORDERS = ["total_rows", "rows_with_text", "max_text_length", "total_text_length"]

WINDOW = dt.timedelta(days=90)
INGEST_BATCH = 100
MEASURED_ID_BASE = 10_000_000
WARMUP_ID_BASE = 90_000_000


def _rng(seed: int, phase: str, k: int) -> random.Random:
    return random.Random(f"{seed}:{phase}:{k}")


def serve_request(seed: int, phase: str, k: int) -> tuple[str, dict]:
    """Request ``k`` of a phase: the endpoints in a fixed cycle, each
    request's parameters drawn from the seed.  Every request asks for a
    window of fixed length (90 days of orders or shipments, 7 days of
    events) that starts anywhere in the data, so every request of an
    endpoint aggregates about as many rows, and most date literals are
    new to the engine."""
    r = _rng(seed, phase, k)
    name = ENDPOINTS[k % len(ENDPOINTS)]
    if name == "top_customers":
        since = dt.date(1995, 1, 1) + dt.timedelta(days=r.randrange(2300))
        params = {"segment": r.choice(SEGMENTS), "since": since.isoformat(),
                  "until": (since + WINDOW).isoformat(), "limit": r.randint(5, 20)}
    elif name == "daily_events":
        start = dt.date(2024, 1, 1) + dt.timedelta(days=r.randrange(24))
        params = {"event_type": r.choice(EVENT_TYPES), "start": start.isoformat(),
                  "end": (start + dt.timedelta(days=6)).isoformat()}
    elif name == "bar_rollup":
        params = {"order_by": r.choice(BAR_ORDERS), "limit": r.randint(3, 15),
                  "start_day": r.randint(1, 15), "end_day": r.randint(16, 31)}
    else:
        since = dt.date(1995, 2, 1) + dt.timedelta(days=r.randrange(2300))
        low = r.randint(0, 2)
        params = {"shipped_since": since.isoformat(), "shipped_until": (since + WINDOW).isoformat(),
                  "min_discount": low / 100, "max_discount": (low + 6) / 100}
    return name, params


def ingest_route(workload: str, phase: str, client: int) -> str:
    """The pipeline a client posts to.  ``ingest``: one pipeline per client,
    so no two appends to one table are ever in flight at once.
    ``ingest_shared``: every client posts to the same pipeline, which shows
    the engine's concurrent-append defect (METRICS.md); its failures come
    and go with thread timing, so it is not one of the listed workloads."""
    name = "events" if phase == "measure" else "warmup"
    return name if workload == "ingest_shared" else f"{name}_{client}"


def ingest_pipelines(workload: str) -> list[str]:
    """Every pipeline ``ingest_route`` can name."""
    return sorted({ingest_route(workload, phase, c)
                   for phase in ("warmup", "measure") for c in range(CLIENTS)})


def ingest_request(seed: int, phase: str, k: int) -> tuple[list[dict], int]:
    """Body ``k`` of a phase: ``INGEST_BATCH`` event records with unique ids,
    exactly one of which fails validation (an unknown ``event_type``).
    Returns the records and the id of the invalid one."""
    r = _rng(seed, phase, k)
    base = (MEASURED_ID_BASE if phase == "measure" else WARMUP_ID_BASE) + k * INGEST_BATCH
    bad = r.randrange(INGEST_BATCH)
    t0 = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=r.randrange(29 * 86_400))
    records = []
    for j in range(INGEST_BATCH):
        ts = t0 + dt.timedelta(microseconds=r.randrange(86_400_000_000))
        records.append({
            "event_id": base + j,
            "ts": ts.isoformat(),
            "user_id": r.randrange(1500),
            "event_type": "bogus" if j == bad else r.choice(EVENT_TYPES),
            "value": round(r.expovariate(1 / 50.0), 2),
            "props": f'{{"k": {r.randrange(100)}}}',
        })
    return records, base + bad
