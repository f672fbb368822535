"""Streaming gate queries (SURVEY.md §2.8, FIXTURES.md "Streaming").

events replayed as a bounded Structured-Streaming job through a Stream with
a ZeroOrMany transform; results land in parquet sinks and must equal the
batch-transformed oracle.  Poison records (k out of range — the ingest
validation failure of local_webserver.rs:1601-1620) land in the DLQ with the
reference envelope.

The transform under test (expression flavor — JVM-side):
  - k = JSONExtractInt(props, 'k'); k is NULL or k >= 90  -> DLQ (poison)
  - event_type = 'error'                                  -> dropped (Zero)
  - event_type = 'purchase'                               -> split into two
    half-value records (Many)
  - otherwise                                             -> identity (One)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.operators._determinism import dsum, sql_dsum
from moosestack_spark.registry import query
from moosestack_spark.streaming.runner import available_now, run_file_stream
from moosestack_spark.streaming.stream import ExpressionTransform, Stream
from moosestack_spark.tables import normalize_event_ts, t

def _poison():
    # Column exprs need an active session — built lazily per query run.
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return k.isNull() | (k >= 90)


def _zero_or_many(df: DataFrame) -> DataFrame:
    half = (F.col("value").cast("decimal(25,4)") / 2).cast("double")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        df.filter(F.col("event_type") != "error")  # Zero
        .withColumn(
            "__copies",
            F.when(
                F.col("event_type") == "purchase",
                F.array(half, half),  # Many: two half-value rows
            ).otherwise(F.array(F.col("value"))),  # One
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.explode("__copies").alias("value"),
            k.alias("k"),
        )
    )


def _transform() -> ExpressionTransform:
    return ExpressionTransform(
        apply=_zero_or_many,
        poison_when=_poison(),
        error_message="k out of range [0, 90)",
        error_type="ValidationError",
    )

_ORACLE_TRANSFORMED = """
SELECT event_id, user_id, event_type, value, k FROM (
  SELECT
    event_id, user_id, event_type,
    CAST(CAST(value AS DECIMAL(25,4)) / 2 AS DOUBLE) AS value,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events, (SELECT 1 UNION ALL SELECT 2)
  WHERE event_type = 'purchase'
    AND CAST(json_extract_string(props, '$.k') AS BIGINT) < 90
  UNION ALL
  SELECT
    event_id, user_id, event_type, value,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE event_type NOT IN ('error', 'purchase')
    AND CAST(json_extract_string(props, '$.k') AS BIGINT) < 90
)
"""


@query("streaming_zero_or_many_transform", oracle=_ORACLE_TRANSFORMED)
def streaming_zero_or_many_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events.parquet as a stream -> transform -> parquet sink; read
    the sink back.  Exactly-once to the sink via checkpoint."""
    stream = Stream(name="events").add_transform("processed", _transform())
    with available_now(spark) as r:
        # the transform does not use ts, so the file streams as stored
        paths = run_file_stream(r, r.source(f"{sf_dir}/events.parquet"), stream)
        return spark.read.parquet(paths["processed"]).localCheckpoint()


@query(
    "streaming_dlq_envelope",
    oracle="""
SELECT
  props AS original_record_payload,
  'k out of range [0, 90)' AS error_message,
  'ValidationError' AS error_type,
  'transform' AS source
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
   OR json_extract_string(props, '$.k') IS NULL
""",
)
def streaming_dlq_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison rows land in the DLQ with the DeadLetterModel envelope
    (stream.py:425-448).  failed_at is wall-clock and original_record is the
    full-record JSON; for the deterministic gate we surface the offending
    payload extracted from the envelope plus the static fields."""
    stream = Stream(name="events").add_transform("processed", _transform())
    with available_now(spark) as r:
        paths = run_file_stream(r, r.source(f"{sf_dir}/events.parquet"), stream)
        dlq = spark.read.parquet(paths["processed__dlq"])
        return dlq.select(
            F.get_json_object(F.col("original_record"), "$.props").alias(
                "original_record_payload"
            ),
            "error_message",
            "error_type",
            "source",
        ).localCheckpoint()


# --------------------------------------------------------------------------
# Event-time windowed aggregation with watermark (append mode) — the Spark
# capability the reference lacks (SURVEY.md §2.8: its transforms are
# stateless; aggregation state lives in ClickHouse MVs).  We expose it as a
# first-class streaming operator: watermarked tumbling windows emitted to an
# append sink exactly once per closed window.
#
# Determinism contract for the gate: with Trigger.AvailableNow the final
# watermark is max(event_time) - delay, so exactly the windows with
# window_end <= max(ts) - 1h are emitted; the oracle applies the same cutoff.
# --------------------------------------------------------------------------


@query(
    "streaming_windowed_agg",
    oracle=f"""
WITH e AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, value, ts
  FROM events
)
SELECT
  strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n,
  {sql_dsum('value')} AS sum_value
FROM e
WHERE window_start + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
GROUP BY window_start, event_type
""",
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows over the events stream with a
    1-hour watermark, append-mode parquet sink: each window row is written
    exactly once, when the watermark passes its end — the incremental-MV
    shape for time-series rollups at 100 TB (state scales with open windows,
    not with history)."""
    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
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


# --------------------------------------------------------------------------
# Session windows (gap-based) — stateful merge of event-time sessions.
# Oracle: classic island detection (new session when the gap to the previous
# event is >= 6h; session end = last event + gap), identical to Spark's
# half-open [start, last+gap) session semantics.
# --------------------------------------------------------------------------


@query(
    "streaming_session_window",
    oracle="""
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
""",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (6h) per user over the events stream.
    Complete-mode memory sink for the bounded gate replay; the production
    path is append + watermark to a table sink (state per OPEN session —
    bounded by active users, not history — the scalable shape)."""
    with available_now(spark) as r:
        stream = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet"))
            .groupBy(F.session_window("ts", "6 hours"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_start"
                ),
                F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_end"
                ),
                "n_events",
            )
        )
        return r.to_memory(stream, "complete").localCheckpoint()


# --------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState.  The escape hatch for
# stateful semantics Spark's built-in windows can't express (reference has
# no equivalent — its shared state is a Redis cache, stream.py §2.8).
# Pattern: per-key GroupState holding a small fixed-size accumulator,
# Arrow-batched updates, update-mode emission.  State size scales with
# distinct keys, not history — the 100 TB-safe shape.
# --------------------------------------------------------------------------


@query(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime stats maintained in GroupState across micro-batches
    (count + first/last event time), emitted in update mode.  The bounded
    replay collapses to one batch, so the update stream's last emission per
    user equals the batch aggregate — which is what the oracle checks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, first_ts string, last_ts string"
    )
    state_schema = "n bigint, mn long, mx long"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, mn, mx = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            micros = pdf["ts"].astype("int64") // 1000  # nanos -> micros
            n += len(pdf)
            lo, hi = int(micros.min()), int(micros.max())
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        state.update((n, mn, mx))
        fmt = lambda us: pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S.%f")
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "first_ts": [fmt(mn)],
                "last_ts": [fmt(mx)],
            }
        )

    with available_now(spark) as r:
        stream = (
            r.source(f"{sf_dir}/events.parquet")
            .select("user_id", "ts")
            .groupBy("user_id")
            .applyInPandasWithState(
                update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
            )
        )
        return r.to_memory(stream, "update").localCheckpoint()


# --------------------------------------------------------------------------
# Multi-route fan-out (set_multi_transform / routed(), py stream.py:233-268):
# one routing expression sends each record to one of several destination
# streams; unrouted records drop.  The gate replays the routed stream and
# returns the union of all destinations tagged with their route.
# --------------------------------------------------------------------------


@query(
    "streaming_multi_route",
    oracle="""
SELECT 'purchases' AS destination, event_id, value FROM events
WHERE event_type = 'purchase'
UNION ALL
SELECT 'clicks' AS destination, event_id, value FROM events
WHERE event_type = 'click'
""",
)
def streaming_multi_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    def route():
        return (
            F.when(F.col("event_type") == "purchase", F.lit("purchases"))
            .when(F.col("event_type") == "click", F.lit("clicks"))
            .otherwise(F.lit(None))
        )

    stream = Stream(name="events").set_multi_transform(
        route, ["purchases", "clicks"]
    )
    with available_now(spark) as r:
        paths = run_file_stream(r, r.source(f"{sf_dir}/events.parquet"), stream)
        frames = [
            spark.read.parquet(paths[dest]).select(
                F.lit(dest).alias("destination"), "event_id", "value"
            )
            for dest in ("purchases", "clicks")
        ]
        return frames[0].unionByName(frames[1]).localCheckpoint()


# --------------------------------------------------------------------------
# ETL extract/transform/load (ts dmv2/sdk/etlPipeline.ts:24-77) — the
# client-side batched path; gate replays supplier through it.
# --------------------------------------------------------------------------


@query(
    "etl_extract_transform_load",
    oracle="""
SELECT s_suppkey, UPPER(s_name) AS name_upper, s_acctbal
FROM supplier WHERE s_acctbal >= 0
""",
)
def etl_extract_transform_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier rows -> batched iterator (batch 20) -> ZeroOrMany transform
    (drop negative balances, uppercase the name) -> loaded rows surfaced."""
    from moosestack_spark.pipeline import ETLPipeline

    src = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    loaded: list[dict] = []

    def extract():
        for r in src.toLocalIterator():
            yield r.asDict()

    def transform(rec: dict):
        if rec["s_acctbal"] < 0:
            return None
        return {
            "s_suppkey": rec["s_suppkey"],
            "name_upper": rec["s_name"].upper(),
            "s_acctbal": rec["s_acctbal"],
        }

    ETLPipeline(extract, transform, loaded.extend).run()
    return spark.createDataFrame(
        loaded, "s_suppkey bigint, name_upper string, s_acctbal double"
    )


# --------------------------------------------------------------------------
# DLQ recovery (stream.py:451 as_typed()): parse original_record back into
# the typed schema and re-process.  Gate: every poison record must be
# recoverable from the DLQ byte-for-byte on its typed fields.
# --------------------------------------------------------------------------


@query(
    "streaming_dlq_recovery",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
   OR json_extract_string(props, '$.k') IS NULL
""",
)
def streaming_dlq_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from moosestack_spark.streaming.stream import dlq_as_typed

    stream = Stream(name="events").add_transform("processed", _transform())
    with available_now(spark) as r:
        paths = run_file_stream(r, r.source(f"{sf_dir}/events.parquet"), stream)
        dlq = spark.read.parquet(paths["processed__dlq"])
        typed = dlq_as_typed(
            dlq,
            StructType(
                [
                    StructField("event_id", LongType()),
                    StructField("user_id", LongType()),
                    StructField("event_type", StringType()),
                    StructField("value", DoubleType()),
                ]
            ),
        )
        return typed.localCheckpoint()


# --------------------------------------------------------------------------
# Topic->topic version-migration sync (topic_sync_process.rs:103-138;
# kafka_clickhouse_sync.rs sync_kafka_to_kafka): the v1->v2 bridge forwards
# every record, dropping a removed column (props), defaulting a new one
# (schema_version), and casting the rest onto the v2 schema.
# --------------------------------------------------------------------------


@query(
    "streaming_topic_sync",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(value AS DOUBLE) AS value,
       CAST(2 AS INTEGER) AS schema_version
FROM events
""",
)
def streaming_topic_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events v1 replayed through the version bridge into the v2 sink; the
    sink read back must equal the conformed batch projection."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from moosestack_spark.streaming.topic_sync import TopicToTopicSync

    v2 = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("schema_version", IntegerType()),
        ]
    )
    sync = TopicToTopicSync(
        source="events_1_0",
        target="events_2_0",
        target_schema=v2,
        defaults={"schema_version": 2},
    )
    with available_now(spark) as r:
        source = r.source(f"{sf_dir}/events.parquet")
        return r.to_parquet(sync.conform(source)).localCheckpoint()


# --------------------------------------------------------------------------
# Stream-stream interval join: clicks joined to subsequent purchases by the
# same user within 1 hour, both sides watermarked.  The enrichment shape a
# 100 TB event pipeline needs (attribution, sessionized conversion): state
# on each side is bounded by watermark + join interval, not by history —
# Spark buffers only rows whose event time is still joinable.  An INNER
# interval join emits exactly the batch-join pairs on a bounded replay, so
# the oracle is the plain SQL interval join.
# --------------------------------------------------------------------------


@query(
    "streaming_stream_join",
    oracle=f"""
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.user_id, c.event_id, p.value
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_attributed,
       {sql_dsum('value')} AS attributed_value
FROM j GROUP BY user_id
""",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two watermarked streams (clicks, purchases) interval-joined on
    (user_id, purchase within [click, click+1h]); joined pairs land in an
    append parquet sink, then the gate aggregates attribution per user."""
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
            "inner",
        ).select("c_user", "c_event_id", "p_value")
        return (
            r.to_parquet(joined)
            .groupBy(F.col("c_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_attributed"),
                dsum("p_value").alias("attributed_value"),
            )
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# Streaming exact dedup: dropDuplicatesWithinWatermark — the ingestion-time
# dedup a 100 TB pipeline wants (state bounded by the watermark horizon,
# not by history; an at-least-once Kafka source becomes effectively-once).
# The gate plants duplicates by listing the source file TWICE in the stream
# directory; identical rows share an event time, so they are always inside
# each other's watermark and the bounded replay equals a global DISTINCT.
# --------------------------------------------------------------------------


@query(
    "streaming_dedup_exact",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct
FROM (
  SELECT DISTINCT event_id, user_id, event_type, ts
  FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
)
GROUP BY event_type
""",
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    with available_now(spark) as r:
        # the same file twice = planted exact duplicates in the stream
        deduped = (
            normalize_event_ts(r.source(f"{sf_dir}/events.parquet", links=2))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id", "user_id", "event_type", "ts"])
            .select("event_id", "user_id", "event_type", "ts")
        )
        return (
            r.to_parquet(deduped)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_distinct"))
            .localCheckpoint()
        )
