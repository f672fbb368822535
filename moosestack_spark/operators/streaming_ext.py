"""Streaming operators, part 2: hopping windows + foreachBatch upsert sink.

Extends operators/streaming_ops.py (same scaffolding: events replayed as a
bounded file stream, Trigger.AvailableNow, deterministic append/emit
contract) with

- hopping (sliding) event-time windows — every event contributes to
  length/slide windows; state per open window only, so a 2h/1h hop doubles
  state vs tumbling, independent of history size;
- a foreachBatch upsert sink: per micro-batch MERGE into a keyed table
  keeping the latest row per key — the Spark expression of the reference's
  stream→ReplacingMergeTree sync (apps/framework-cli sync writes + CH engine
  dedup on merge; here the merge is explicit per batch, which is exactly how
  Delta/Iceberg MERGE sinks are driven in production Spark).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moosestack_spark.operators._determinism import dsum, sql_dsum
from moosestack_spark.registry import query
from moosestack_spark.streaming.runner import available_now, commit_table
from moosestack_spark.tables import normalize_event_ts, t


@query(
    "streaming_hopping_agg",
    oracle=f"""
WITH starts AS (
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value, ts
  FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) AS ws, event_type, value, ts FROM events
)
SELECT
  strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n,
  {sql_dsum('value')} AS sum_value
FROM starts
WHERE ws + INTERVAL 2 HOUR <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
GROUP BY ws, event_type
""",
)
def streaming_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows hopping every 1 hour with a 1-hour watermark: each
    event lands in exactly two windows (epoch-aligned starts trunc(ts,h) and
    trunc(ts,h)-1h), each window row is appended exactly once when the
    watermark passes its end.  The oracle replays the same two-starts
    expansion and the availableNow emission cutoff (window_end <= max(ts) -
    delay)."""
    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "2 hours", "1 hour"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
                "sum_value",
            )
        )
        return r.to_parquet(stream).localCheckpoint()


def upsert_batch(table_dir: str, key_cols: list[str], order_cols: list[str]):
    """Build a foreachBatch callback MERGEing each micro-batch into a keyed
    parquet table: per key keep the single row that sorts first by
    ``order_cols`` (descending) — latest-wins upsert.  The merge reads the
    current table, unions the batch, re-ranks, and commits the result as
    the new version (streaming/runner.commit_table).  At scale the same
    callback body targets a Delta/Iceberg MERGE INTO (per-key shuffle
    bounded by |batch| + matched keys, not table history)."""
    rank_w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        def merge(prev):
            merged = batch_df if prev is None else batch_df.unionByName(prev)
            return (
                merged.withColumn("__rn", F.row_number().over(rank_w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        commit_table(batch_df.sparkSession, table_dir, batch_id, merge)

    return _apply


def _upsert_replay(r, sf_dir: str) -> DataFrame:
    """Replay events through the latest-wins upsert keyed by user (ts,
    event_id order); returns the final table."""
    table_dir = r.dir("table")
    stream = normalize_event_ts(r.source(f"{sf_dir}/events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    r.for_each_batch(stream, upsert_batch(table_dir, ["user_id"], ["ts", "event_id"]))
    return r.spark.read.parquet(os.path.join(table_dir, "current"))


@query(
    "streaming_upsert_latest",
    oracle="""
SELECT user_id, event_type AS last_event_type,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
  value AS last_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→table upsert sync: foreachBatch merges each micro-batch into a
    per-user latest-event table (latest ts, event_id tiebreak — the same
    total order the Replacing engine view uses).  Final table state must
    equal the batch 'latest row per user' query."""
    with available_now(spark) as r:
        final = _upsert_replay(r, sf_dir)
        return final.select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("value").alias("last_value"),
        ).localCheckpoint()


@query(
    "streaming_enrich_static",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
  COUNT(*) AS n
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined per micro-batch
    to a STATIC dimension (customer), then aggregated via foreachBatch
    accumulation.  This is the reference's stream transform + lookup-table
    pattern (a transform calling a CH dimension lookup); in Spark the
    static side broadcasts into every micro-batch — no stream-side state,
    no watermark needed, and dimension updates between batches are picked
    up automatically.  The aggregate accumulates across batches through a
    latest-wins upsert on the group key (count monotonicity makes
    last-write-wins correct under availableNow replay)."""
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    with available_now(spark) as r:
        table_dir = r.dir("table")
        enriched = (
            r.source(f"{sf_dir}/events.parquet")
            .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
            .select("segment", "event_type")
        )

        def accumulate(batch_df: DataFrame, batch_id: int) -> None:
            counts = batch_df.groupBy("segment", "event_type").agg(
                F.count(F.lit(1)).alias("n")
            )

            def merge(prev):
                if prev is None:
                    return counts
                return (
                    counts.unionByName(prev)
                    .groupBy("segment", "event_type")
                    .agg(F.sum("n").cast("bigint").alias("n"))
                )

            commit_table(batch_df.sparkSession, table_dir, batch_id, merge)

        r.for_each_batch(enriched, accumulate)
        return spark.read.parquet(os.path.join(table_dir, "current")).localCheckpoint()


@query(
    "streaming_cdc_apply",
    oracle="""
SELECT user_id, event_type AS last_op,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS op_ts,
  value AS op_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
""",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: an insert/update/delete change stream merged into keyed
    table state — the core job of the reference's Kafka→ClickHouse sync
    (infrastructure/processes/kafka_clickhouse_sync.rs) landing into
    ReplacingMergeTree(ver, is_deleted).  'error' events act as deletes.

    Tombstone discipline: the physical state KEEPS the latest op per key
    even when it is a delete (exactly CH's is_deleted row), so a
    late-arriving older upsert in a later micro-batch cannot resurrect a
    deleted key — the tombstone outranks it in the (ts, event_id) order.
    Only the read view filters tombstones.  State size is bounded by live
    keys + deleted keys, compacted to one row per key every merge."""
    with available_now(spark) as r:
        state = _upsert_replay(r, sf_dir)
        return (
            state.filter(F.col("event_type") != "error")  # tombstones hidden
            .select(
                "user_id",
                F.col("event_type").alias("last_op"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("op_ts"),
                F.col("value").alias("op_value"),
            )
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: clicks with no purchase within 1h
# surface with a NULL match — but only once the watermark has passed the
# click's last joinable instant (until then the match could still arrive).
# State on both sides stays bounded by watermark + interval exactly as in
# the inner join; the outer row is emitted at state eviction time.  On an
# availableNow bounded replay the final watermark is
# min(max(click ts), max(purchase ts)) - 1h delay, so clicks whose joinable
# window [ts, ts+1h] is not fully below that watermark at end-of-stream
# remain in state and never surface a NULL row — the oracle states that
# cutoff explicitly.
# --------------------------------------------------------------------------


@query(
    "streaming_stream_join_outer",
    oracle="""
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
         - INTERVAL 1 HOUR AS w
),
j AS (
  SELECT c.user_id, c.event_id, c.ts AS c_ts, p.value
  FROM c LEFT JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value) AS BIGINT) AS n_matched
FROM j, wm
WHERE j.value IS NOT NULL OR j.c_ts + INTERVAL 1 HOUR < wm.w
GROUP BY user_id
""",
)
def streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer watermarked interval join (clicks LEFT JOIN purchases by
    the same user within [click, click+1h]): matched pairs emit as they
    join; a NULL-padded row emits when the watermark proves no match can
    arrive.  Gate aggregates per user the total emitted rows and how many
    actually matched — pinning both the join semantics and the
    watermark-gated outer emission."""
    with available_now(spark) as r:
        src = normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_event_id"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            src.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).select("c_user", "c_event_id", "p_value")
        return (
            r.to_parquet(joined)
            .groupBy(F.col("c_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("p_value").alias("n_matched"),
            )
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# Streaming windowed HyperLogLog: approximate distinct users per day.  The
# streamed state is the REGISTER table (window x idx -> max rank) — max is
# associative/commutative, so the availableNow replay is byte-identical to
# the batch sketch and the DuckDB oracle hash-matches a streaming
# approximate aggregate (same determinism contract as agg_hll_deterministic:
# exact integers until the final alpha/ln, surfaced FLOAT).  This is the
# production shape for "uniques per window" at 100 TB: state is bounded at
# m=1024 registers per open window (NOT per distinct user — a plain
# streaming countDistinct would hold every user id in state), and closed
# windows emit their registers exactly once for batch-side finalization.
# --------------------------------------------------------------------------


def _hll_stream_oracle() -> str:
    from moosestack_spark.operators.aggregates import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_WBITS,
    )

    def mul32(h: str, c: int) -> str:
        return (
            f"(((({h}) % 65536) * {c} + (((({h}) // 65536) * {c}) % 65536)"
            f" * 65536) % 4294967296)"
        )

    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}"
        f" / (den_used + ({_HLL_M} - used_registers))"
    )
    return f"""
WITH x AS (
  SELECT date_trunc('day', ts) AS ws,
         (CAST(user_id AS BIGINT) * 2654435761) % 4294967296 AS h0
  FROM events
),
s1 AS (SELECT ws, xor(h0, h0 // 65536) AS h1 FROM x),
s2 AS (SELECT ws, {mul32("h1", 0x85EBCA6B)} AS h2 FROM s1),
s3 AS (SELECT ws, xor(h2, h2 // 8192) AS h3 FROM s2),
s4 AS (SELECT ws, {mul32("h3", 0xC2B2AE35)} AS h4 FROM s3),
h AS (SELECT ws, xor(h4, h4 // 65536) AS h32 FROM s4),
reg AS (
  SELECT ws, h32 % {_HLL_M} AS idx,
         MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(CAST(w AS BIGINT))) END)
           AS m_j
  FROM (SELECT ws, h32, h32 // {_HLL_M} AS w FROM h)
  GROUP BY ws, h32 % {_HLL_M}
),
sk AS (
  SELECT ws, CAST(COUNT(*) AS BIGINT) AS used_registers,
         SUM(power(2.0, -m_j)) AS den_used
  FROM reg GROUP BY ws
)
SELECT strftime(ws, '%Y-%m-%d') AS window_start,
       used_registers,
       CAST(CASE
         WHEN {raw} <= 2.5 * {_HLL_M} AND used_registers < {_HLL_M}
           THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                              / ({_HLL_M} - used_registers))
         ELSE {raw}
       END AS FLOAT) AS hll_estimate
FROM sk
WHERE ws + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
"""


@query("streaming_hll_distinct", oracle=_hll_stream_oracle())
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day tumbling windows whose streamed state is an HLL
    register table: groupBy(window, idx) max(rank) — m-bounded state per
    window, append-emitted once per closed window, finalized batch-side
    (hll_finalize).  The oracle replays the identical deterministic sketch
    in DuckDB, including the availableNow emission cutoff."""
    from moosestack_spark.operators.aggregates import hll_finalize, hll_idx_rank_expr

    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .select("ts", F.expr(hll_idx_rank_expr("user_id")).alias("ir"))
            .select("ts", F.col("ir.idx").alias("idx"), F.col("ir.rank").alias("rank"))
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"), F.col("idx"))
            .agg(F.max("rank").alias("m_j"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd").alias("window_start"),
                "idx",
                "m_j",
            )
        )
        return hll_finalize(r.to_parquet(stream), ["window_start"]).localCheckpoint()


# --------------------------------------------------------------------------
# Streaming per-window top-k: the MV pattern for leaderboards — the
# STREAM maintains the windowed rollup (append-once per closed window,
# state bounded by open windows x categories), the top-k RANK runs
# batch-side on the emitted rollup (ranking needs the closed window's
# complete counts, so it belongs after the watermark fires — exactly how
# the reference's leaderboard template ranks a CH MV,
# templates/live-heartrate-leaderboard get_leaderboard.py).
# --------------------------------------------------------------------------


@query(
    "streaming_window_topk",
    oracle="""
WITH agg AS (
  SELECT date_trunc('day', ts) AS ws, event_type, COUNT(*) AS n
  FROM events
  GROUP BY date_trunc('day', ts), event_type
), cut AS (
  SELECT ws, event_type, n FROM agg
  WHERE ws + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
)
SELECT window_start, event_type, n, rnk FROM (
  SELECT strftime(ws, '%Y-%m-%d') AS window_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, event_type ASC)
           AS rnk
  FROM cut
) WHERE rnk <= 3
""",
)
def streaming_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per closed 1-day window: watermarked streaming
    rollup (append-once per window) + batch-side rank over the sink."""
    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd").alias("window_start"),
                "event_type",
                "n",
            )
        )
        rollup = r.to_parquet(stream)
        w = Window.partitionBy("window_start").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
        return (
            rollup.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("window_start", "event_type", "n", "rnk")
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# Streaming bucketized-KMV distinct: same MV pattern as streaming_hll —
# the streamed state per open window is EXACTLY K bucket-minimum rows
# (min is algebraic, so Structured Streaming maintains it incrementally),
# finalized batch-side with the MinCount estimator (Lumbroso 2010) over
# exact integer minima.  A second mergeable-sketch family in the
# streaming path, with a different accuracy/state profile than HLL.
# --------------------------------------------------------------------------

_KMV_K = 256


def _kmv_stream_oracle() -> str:
    from moosestack_spark.operators.aggregates import fmix32_duckdb_ctes
    from moosestack_spark.ops.sketches import HASH_SPACE

    k = _KMV_K
    return f"""
WITH dk AS (
  SELECT date_trunc('day', ts) AS ws, user_id FROM events
),
{fmix32_duckdb_ctes("user_id", "ws", "dk")},
minima AS (
  SELECT ws, h32 % {k} AS bucket, MIN(h32) AS m
  FROM hashed GROUP BY ws, h32 % {k}
),
sk AS (
  SELECT ws, CAST(COUNT(*) AS INT) AS used_buckets,
         CAST(SUM(m) AS BIGINT) AS sum_min_used
  FROM minima GROUP BY ws
)
SELECT strftime(ws, '%Y-%m-%d') AS window_start,
       used_buckets,
       CAST(CASE
         WHEN used_buckets < {k}
           THEN -{k} * ln(({k} - used_buckets) / CAST({k} AS DOUBLE))
         ELSE {float(k * (k - 1))} * {float(HASH_SPACE)}
                / (sum_min_used + CAST({k} - used_buckets AS BIGINT)
                   * {HASH_SPACE})
       END AS FLOAT) AS est_distinct
FROM sk
WHERE ws + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
"""


@query("streaming_kmv_distinct", oracle=_kmv_stream_oracle())
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day tumbling windows whose streamed state is a
    bucketized-KMV sketch: groupBy(window, h32 % K) min(h32) — exactly K
    rows of state per open window, append-emitted once per closed window,
    MinCount-finalized batch-side (ops/sketches.mincount_finalize over
    exact integer minima).  The oracle replays the identical deterministic
    sketch in DuckDB, including the availableNow emission cutoff."""
    from moosestack_spark.operators.aggregates import fmix32_expr
    from moosestack_spark.ops.sketches import mincount_finalize

    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .select(
                "ts", F.expr(fmix32_expr("user_id")).cast("bigint").alias("h32")
            )
            .withColumn("bucket", (F.col("h32") % _KMV_K).cast("int"))
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"), F.col("bucket"))
            .agg(F.min("h32").alias("m"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd").alias("window_start"),
                "bucket",
                "m",
            )
        )
        return mincount_finalize(
            r.to_parquet(stream), ["window_start"], k=_KMV_K
        ).localCheckpoint()


# --------------------------------------------------------------------------
# Streaming quantileTiming: the fixed-resolution timing histogram (see
# operators/aggregates_stats.py agg_quantile_timing) is a pure counting
# sketch — counts are algebraic, so Structured Streaming maintains the
# per-window histogram incrementally with bounded state (<= ~2.9k buckets
# per open window: 1024 exact 1 ms bins + 16 ms bands to 30 s + the 30 s
# clamp), append-emits each closed window, and the batch side finalizes
# p50/p90/p99 with the integer cumulative-rank rule.  Third hard-oracled
# streaming sketch family next to HLL and bucketized KMV — latency
# percentiles per event-time window is THE canonical streaming-metrics
# query.
# --------------------------------------------------------------------------


def _timing_stream_oracle() -> str:
    return """
WITH ms AS (
  SELECT date_trunc('day', ts) AS ws,
         CAST(FLOOR(value * 97) AS BIGINT) AS ms
  FROM events
),
bucketed AS (
  SELECT ws,
         CASE WHEN ms >= 30000 THEN 30000
              WHEN ms < 1024 THEN ms
              ELSE (ms // 16) * 16 END AS b
  FROM ms
),
hist AS (SELECT ws, b, COUNT(*) AS cnt FROM bucketed GROUP BY ws, b),
cum AS (
  SELECT ws, b, cnt,
         SUM(cnt) OVER (PARTITION BY ws ORDER BY b) AS c,
         SUM(cnt) OVER (PARTITION BY ws) AS n
  FROM hist
)
SELECT strftime(ws, '%Y-%m-%d') AS window_start,
       CAST(MIN(CASE WHEN c >= CEIL(0.5 * n) THEN b END) AS BIGINT) AS q50_ms,
       CAST(MIN(CASE WHEN c >= CEIL(0.9 * n) THEN b END) AS BIGINT) AS q90_ms,
       CAST(MIN(CASE WHEN c >= CEIL(0.99 * n) THEN b END) AS BIGINT) AS q99_ms,
       CAST(MAX(n) AS BIGINT) AS n_events
FROM cum
WHERE ws + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
GROUP BY ws
"""


@query("streaming_quantile_timing", oracle=_timing_stream_oracle())
def streaming_quantile_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day p50/p90/p99 latency from a STREAMED timing histogram:
    state per open window is the bounded bucket-count table, emitted on
    window close (1-day watermark, availableNow cutoff replayed by the
    oracle), finalized batch-side with the exact integer rank rule."""
    with available_now(spark) as r:
        ms = F.floor(F.col("value") * 97).cast("bigint")
        b = (
            F.when(ms >= 30000, F.lit(30000))
            .when(ms < 1024, ms)
            .otherwise(
                F.expr("(CAST(FLOOR(value * 97) AS BIGINT) DIV 16) * 16")
            )
        )
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .select("ts", b.alias("b"))
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"), F.col("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd").alias(
                    "window_start"
                ),
                "b",
                "cnt",
            )
        )
        cum = r.to_parquet(stream).select(
            "window_start", "b", "cnt",
            F.sum("cnt").over(
                Window.partitionBy("window_start").orderBy("b")
            ).alias("c"),
            F.sum("cnt").over(Window.partitionBy("window_start")).alias("n"),
        )

        def q_at(qv: float, name: str):
            return F.min(
                F.when(
                    F.col("c") >= F.ceil(F.lit(qv) * F.col("n")), F.col("b")
                )
            ).cast("bigint").alias(name)

        return (
            cum.groupBy("window_start")
            .agg(
                q_at(0.5, "q50_ms"),
                q_at(0.9, "q90_ms"),
                q_at(0.99, "q99_ms"),
                F.max("n").cast("bigint").alias("n_events"),
            )
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# STREAMING space-saving heavy hitters: the fourth hard-oracled streaming
# sketch family (after HLL, bucketized KMV and the timing histogram), and
# the first built on applyInPandasWithState rather than an algebraic
# windowed aggregate — per cohort, GroupState holds a BOUNDED space-saving
# dict (cap entries + the explicit error budget e, serialized as joined
# strings), pruned on every update exactly like the batch operator
# (ops/sketches.py).  The gate surfaces only layout-independent facts:
# each cohort's top hot keys by EXACT count (replayed batch-side and by
# the oracle) and an in-plan band check exact BETWEEN est AND est + e —
# the agg_uniq_approx graduation pattern, so the stream's bounded state
# is hash-verified without pinning arrival order.
# --------------------------------------------------------------------------

_SS_STREAM_ORACLE = """
WITH keyed AS (
  SELECT CAST(user_id % 4 AS BIGINT) AS cohort,
         CASE WHEN user_id % 10 < 7
              THEN 'hot-' || CAST(user_id % 3 AS VARCHAR)
              ELSE 'cold-' || CAST(user_id % 5000 AS VARCHAR) END AS key
  FROM events
),
exact AS (
  SELECT cohort, key, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM keyed GROUP BY cohort, key
),
ranked AS (
  SELECT cohort, key, exact_cnt,
         ROW_NUMBER() OVER (PARTITION BY cohort
                            ORDER BY exact_cnt DESC, key) AS rn
  FROM exact
)
SELECT cohort, key, exact_cnt, CAST(1 AS INT) AS within_band
FROM ranked WHERE rn <= 2
ORDER BY cohort, key
"""


@query("streaming_space_saving_topk", oracle=_SS_STREAM_ORACLE)
def streaming_space_saving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort heavy hitters maintained as bounded GroupState across the
    stream; top-2 hot keys verified against exact batch counts with the
    explicit error band."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    CAP, KEEP = 128, 64

    out_schema = "cohort bigint, key string, est bigint, e bigint"
    state_schema = "keys string, cnts string, e bigint"

    def update(key, pdfs, state: GroupState):
        (cohort,) = key
        if state.exists:
            keys_s, cnts_s, e = state.get
            counts = dict(
                zip(
                    keys_s.split("\x1f") if keys_s else [],
                    map(int, cnts_s.split("\x1f")) if cnts_s else [],
                )
            )
        else:
            counts, e = {}, 0
        for pdf in pdfs:
            for k, c in pdf["key"].value_counts().items():
                counts[k] = counts.get(k, 0) + int(c)
            if len(counts) > CAP:
                ordered = sorted(counts.items(), key=lambda kv: -kv[1])
                e += ordered[KEEP][1]
                counts = dict(ordered[:KEEP])
        top = sorted(counts.items(), key=lambda kv: -kv[1])[:KEEP]
        state.update(
            (
                "\x1f".join(k for k, _ in top),
                "\x1f".join(str(c) for _, c in top),
                e,
            )
        )
        yield pd.DataFrame(
            {
                "cohort": [cohort] * len(top),
                "key": [k for k, _ in top],
                "est": [c for _, c in top],
                "e": [e] * len(top),
            }
        )

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            (F.col("user_id") % 4).cast("bigint").alias("cohort"),
            F.when(
                F.col("user_id") % 10 < 7,
                F.concat(F.lit("hot-"), (F.col("user_id") % 3).cast("string")),
            )
            .otherwise(
                F.concat(F.lit("cold-"), (F.col("user_id") % 5000).cast("string"))
            )
            .alias("key"),
        )

    with available_now(spark) as r:
        stream = (
            keyed(r.source(f"{sf_dir}/events.parquet"))
            .groupBy("cohort")
            .applyInPandasWithState(
                update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
            )
        )
        sketch = r.to_memory(stream, "update")
        # batch-side exact counts (what the oracle replays)
        exact = (
            keyed(t(spark, sf_dir, "events"))
            .groupBy("cohort", "key")
            .agg(F.count(F.lit(1)).alias("exact_cnt"))
        )
        w = Window.partitionBy("cohort").orderBy(
            F.desc("exact_cnt"), F.asc("key")
        )
        top_exact = (
            exact.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .drop("rn")
        )
        out = (
            top_exact.join(sketch, ["cohort", "key"])
            .withColumn(
                "within_band",
                (
                    (F.col("exact_cnt") >= F.col("est"))
                    & (F.col("exact_cnt") <= F.col("est") + F.col("e"))
                ).cast("int"),
            )
            .select("cohort", "key", "exact_cnt", "within_band")
            .orderBy("cohort", "key")
        )
        return out.localCheckpoint()


# --------------------------------------------------------------------------
# Streaming SCD Type-2 maintenance: the change stream lands into a history
# table of [valid_from, valid_to) intervals, merged per micro-batch with
# AFFECTED-KEY-BOUNDED work — untouched keys' history is carried through an
# anti join; only keys present in the batch get their interval chain
# recomputed (union old history + new rows, one lead() window per key).
# Because the merge recomputes each affected key from its FULL per-key
# history, the final table is independent of batch order and count — which
# is exactly what makes a hard oracle possible for a streaming DDL op:
# the batch SCD2 build over the same events is the replay.
# At 100 TB: per-batch cost is O(batch + history of touched keys), the
# production MERGE shape (Delta/Iceberg SCD2 pipelines); state is the
# history table itself, not executor memory.
# --------------------------------------------------------------------------


def scd2_merge_batch(table_dir: str, key: str, order_cols: list[str]):
    """foreachBatch hook: merge a micro-batch of (key, order_cols, payload)
    rows into the SCD2 history at ``table_dir`` (affected keys only)."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        commit_table(
            batch.sparkSession,
            table_dir,
            batch_id,
            lambda old: merge(batch.select(key, *order_cols, "cents"), old),
        )

    def merge(new_rows: DataFrame, old) -> DataFrame:
        if old is not None:
            affected = new_rows.select(key).distinct()
            # untouched keys: materialized intervals carried through as-is
            keep = old.join(affected, key, "left_anti")
            redo_src = (
                old.join(affected, key, "left_semi")
                .select(key, *order_cols, "cents")
                .unionByName(new_rows)
                # foreachBatch is at-least-once: a replayed micro-batch
                # (table swapped, checkpoint commit lost in a crash) must be
                # a no-op.  A version row is identified by (key, order
                # cols), so deduping here makes the merge idempotent under
                # replay — the exactly-once half of the kill-and-resume
                # contract (tests/test_streaming_resume.py).
                .dropDuplicates([key, *order_cols])
            )
        else:
            keep = None
            redo_src = new_rows
        # recompute the interval chain ONLY for keys present in the batch
        w = Window.partitionBy(key).orderBy(*order_cols)
        nxt = F.lead(order_cols[0]).over(w)
        redone = redo_src.select(
            key,
            *order_cols,
            "cents",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        return redone if keep is None else keep.unionByName(redone)

    return apply


@query(
    "streaming_scd2_apply",
    oracle="""
SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM events
""",
)
def streaming_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 intervals maintained INCREMENTALLY over a 3-batch file stream
    (events time-sliced into three files, maxFilesPerTrigger=1): each
    micro-batch merges only its affected keys' history.  The final table
    equals the one-shot batch build (table_scd2_build's oracle) because
    per-key recompute is order-independent — the hard-oracle contract
    for this streaming op."""
    with available_now(spark) as r:
        src_dir, table_dir = r.dir("slices"), r.dir("table")
        ev = t(spark, sf_dir, "events")
        # three deterministic time slices -> three ordered source files
        bounds = ev.agg(
            F.expr("percentile_approx(event_id, 0.34, 10000)").alias("b1"),
            F.expr("percentile_approx(event_id, 0.67, 10000)").alias("b2"),
        ).collect()[0]
        slices = [
            ev.filter(F.col("event_id") <= bounds.b1),
            ev.filter(
                (F.col("event_id") > bounds.b1) & (F.col("event_id") <= bounds.b2)
            ),
            ev.filter(F.col("event_id") > bounds.b2),
        ]
        for i, sl in enumerate(slices):
            # written outside the source dir; the replay's root holds both
            tmp = os.path.join(r.root, f"slice{i}")
            sl.coalesce(1).write.parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            os.rename(
                os.path.join(tmp, part), os.path.join(src_dir, f"batch{i}.parquet")
            )
        stream = (
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .select(
                "user_id",
                "ts",
                "event_id",
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            )
        )
        r.for_each_batch(
            stream, scd2_merge_batch(table_dir, "user_id", ["ts", "event_id"])
        )
        # the intervals are MATERIALIZED by the merges — the read is a
        # plain projection, no window (that's the point of SCD2 storage)
        hist = spark.read.parquet(os.path.join(table_dir, "current"))
        return (
            hist.select(
                "user_id",
                "cents",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
                F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias(
                    "valid_to"
                ),
                "is_current",
            )
            .localCheckpoint()
        )
