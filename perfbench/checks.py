"""Output checks of ``serve`` and the ingest workloads, made after the timed phase with
DuckDB as the oracle.  ``headline`` is checked inside the application, by
the engine's own oracle harness."""

from __future__ import annotations

import decimal
import glob
import json
import os
import random
import re
from typing import Any

import duckdb

from workloads import BAR_ORDERS, INGEST_BATCH, ingest_request

NUMERIC = re.compile(r"^-?\d+(\.\d+)?$")


def _value(v: Any) -> Any:
    """A JSON reply cell and a DuckDB cell compare equal after this: numbers
    (decimals arrive as strings) become exact decimals, dates ISO text."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return decimal.Decimal(str(v)).normalize()
    if isinstance(v, str) and NUMERIC.match(v):
        return decimal.Decimal(v).normalize()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


SERVE_ORACLES = {
    "top_customers": """
        SELECT c_custkey, c_name, COUNT(*) AS orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= CAST($since AS DATE) AND o_orderdate < CAST($until AS DATE)
          AND c_mktsegment = $segment
        GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT $limit""",
    "daily_events": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS events,
               COUNT(DISTINCT user_id) AS users,
               SUM(CAST(value AS DECIMAL(18,2))) AS value
        FROM events WHERE event_type = $event_type
          AND strftime(ts, '%Y-%m-%d') BETWEEN $start AND $end
        GROUP BY 1 ORDER BY 1 LIMIT 31""",
    "bar_rollup": """
        SELECT day_of_month, COUNT(*) AS total_rows,
               COUNT(*) FILTER (WHERE has_text) AS rows_with_text,
               CAST(SUM(text_length) AS BIGINT) AS total_text_length,
               MAX(text_length) AS max_text_length
        FROM (SELECT CAST(day(utc_timestamp) AS BIGINT) AS day_of_month, * FROM bar)
        WHERE day_of_month BETWEEN $start_day AND $end_day
        GROUP BY day_of_month ORDER BY {order_by} DESC, day_of_month LIMIT $limit""",
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate >= CAST($shipped_since AS DATE)
          AND l_shipdate < CAST($shipped_until AS DATE)
          AND l_discount BETWEEN $min_discount AND $max_discount
        GROUP BY 1, 2 ORDER BY 1, 2""",
}


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_serve(data_dir: str, records: list[dict], seed: int, per_endpoint: int = 2) -> dict:
    """Recompute a seeded sample of 2xx replies, ``per_endpoint`` of each
    endpoint, and compare them row for row and column by column."""
    con = connect(data_dir)
    ok = [r for r in records if r["status"] == 200]
    rng = random.Random(f"{seed}:check")
    sample: list[dict] = []
    for name in SERVE_ORACLES:
        mine = [r for r in ok if r["endpoint"] == name]
        sample += rng.sample(mine, min(per_endpoint, len(mine)))
    mismatches = []
    for rec in sample:
        params = dict(rec["params"])
        sql = SERVE_ORACLES[rec["endpoint"]]
        if rec["endpoint"] == "bar_rollup":
            if params["order_by"] not in BAR_ORDERS:
                raise ValueError(params["order_by"])
            sql = sql.format(order_by=params.pop("order_by"))
        cur = con.execute(sql, params)
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, row)) for row in cur.fetchall()]
        got = rec["body"]
        same = len(got) == len(want) and all(
            set(g) == set(w) and all(_value(g[c]) == _value(w[c]) for c in cols)
            for g, w in zip(got, want)
        )
        if not same:
            mismatches.append({"endpoint": rec["endpoint"], "params": rec["params"],
                               "got": got[:3], "want": [str(w) for w in want[:3]]})
    return {"checked": len(sample), "mismatches": mismatches, "ok": not mismatches and bool(sample)}


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def check_ingest(warehouse: str, records: list[dict], seed: int) -> dict:
    """Every record of a 2xx reply is stored exactly once with the values
    sent; the DLQ holds the invalid record of each 2xx request exactly
    once.  Rows of failed requests that landed anyway are counted as
    orphans, not as errors: they are the engine's documented defect.
    The stored rows are those of every pipeline the requests went to."""
    tables = [os.path.join(warehouse, "default", t) for t in sorted({r["endpoint"] for r in records})]
    con = duckdb.connect()
    con.execute("CREATE TABLE sent (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type VARCHAR, value DOUBLE, acked BOOLEAN)")
    acked_bad: list[int] = []
    rows = []
    for rec in records:
        body, bad_id = ingest_request(seed, "measure", rec["k"])
        acked = rec["status"] == 200
        if acked:
            acked_bad.append(bad_id)
        rows += [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"], acked)
                 for r in body if r["event_id"] != bad_id]
    con.executemany("INSERT INTO sent VALUES (?, ?, ?, ?, ?, ?)", rows)
    files = [f for t in tables for f in _parquet_files(t)]
    if files:
        con.execute(f"CREATE VIEW stored AS SELECT * FROM read_parquet({files!r})")
    else:
        con.execute("CREATE VIEW stored AS SELECT * FROM sent WHERE false")
    bad_replies = [r["k"] for r in records if r["status"] == 200
                   and r["body"] != {"inserted": INGEST_BATCH - 1, "dead_lettered": 1}]
    q = con.execute("""
        SELECT
          (SELECT COUNT(*) FROM sent s WHERE acked AND (
              SELECT COUNT(*) FROM stored t WHERE t.event_id = s.event_id AND t.ts = s.ts
                AND t.user_id = s.user_id AND t.event_type = s.event_type
                AND t.value = s.value) <> 1),
          (SELECT COUNT(*) FROM stored t JOIN sent s USING (event_id) WHERE NOT s.acked),
          (SELECT COUNT(*) FROM stored t ANTI JOIN sent s USING (event_id)),
          (SELECT COUNT(*) FROM stored)
    """).fetchone()
    not_once, orphans, unknown, stored = q
    dlq_files = [f for t in tables for f in _parquet_files(t + "__dlq")]
    dlq_ids: list[int] = []
    if dlq_files:
        for (orig,) in con.execute(
            f"SELECT original_record FROM read_parquet({dlq_files!r})"
        ).fetchall():
            dlq_ids.append(json.loads(orig)["event_id"])
    dlq_missing = [b for b in acked_bad if dlq_ids.count(b) != 1]
    ok = not (not_once or unknown or dlq_missing or bad_replies)
    return {
        "ok": ok, "acked_records_not_stored_once": not_once, "unknown_rows": unknown,
        "dlq_missing_or_repeated": len(dlq_missing), "unexpected_replies": len(bad_replies),
        "orphan_rows": orphans, "stored_rows": stored,
        "table_files": len(files), "dlq_files": len(dlq_files),
        "table_bytes": sum(os.path.getsize(f) for f in files),
        "manifest_bytes": sum(os.path.getsize(f) for t in tables
                              for f in glob.glob(os.path.join(t + "__snapshots", "*.json"))),
    }
